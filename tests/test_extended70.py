"""Semantic property tests for extension pack 70 (extended70.py)."""

from __future__ import annotations

import glob
import gzip
import math
import os
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.extended70 import GZ_SHARDS
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def test_gzip_roundtrip_is_lossless_and_sharded(spark):
    df = QUERIES["source_csv_gzip_roundtrip"].fn(spark, SF_DIR)
    rows = {r.status: r for r in df.collect()}
    orders = load(spark, SF_DIR, "orders").collect()
    agg = defaultdict(lambda: [0, 0])
    for o in orders:
        agg[o.o_orderstatus][0] += 1
        agg[o.o_orderstatus][1] += round(o.o_totalprice * 100)
    assert set(rows) == set(agg)
    for st, (n, cents) in agg.items():
        assert (rows[st].n_orders, rows[st].cents) == (n, cents)
    # the stage really holds GZ_SHARDS genuinely-compressed shards
    stage = os.path.join(staged_dir(df, "csv_gzip"), "orders")
    shards = sorted(glob.glob(os.path.join(stage, "*.csv.gz")))
    assert len(shards) == GZ_SHARDS
    total_lines = 0
    for p in shards:
        raw = open(p, "rb").read()
        assert raw[:2] == b"\x1f\x8b"  # gzip magic — not plain text
        with gzip.open(p, "rt") as f:
            lines = f.readlines()
        assert lines[0].startswith("orderkey,")
        total_lines += len(lines) - 1
    assert total_lines == len(orders)


def test_cohens_d_matches_python_and_travels_with_ttest(spark):
    row = QUERIES["agg_effect_size_cohens_d"].fn(spark, SF_DIR).collect()[0]
    ev = load(spark, SF_DIR, "events").where(
        "event_type IN ('purchase', 'view')"
    ).select("event_type", "value").collect()
    groups = defaultdict(list)
    for e in ev:
        groups[e.event_type].append(math.floor(e.value * 100 + 0.5))
    t, c = groups["purchase"], groups["view"]
    assert (row.n_treatment, row.n_control) == (len(t), len(c))
    mt, mc = sum(t) / len(t), sum(c) / len(c)
    sst = sum(x * x for x in t) - sum(t) ** 2 / len(t)
    ssc = sum(x * x for x in c) - sum(c) ** 2 / len(c)
    pooled = math.sqrt((sst + ssc) / (len(t) + len(c) - 2))
    assert abs(row.cohens_d - (mt - mc) / pooled) < 2e-6
    assert abs(row.mean_diff - (mt - mc) / 100.0) < 2e-6
    # effect size and significance travel together: the same cohort's
    # t-test key exists, and d is magnitude-bounded sanity
    assert abs(row.cohens_d) < 3
    assert "agg_ab_test_ttest" in QUERIES
