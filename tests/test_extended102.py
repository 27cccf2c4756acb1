"""Semantic property tests for extension pack 102 (extended102.py)."""

from __future__ import annotations

import math
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.extended102 import (
    META_GATE,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def test_meta_analysis_matches_python_pooling(spark):
    row = QUERIES["agg_meta_analysis_fixed_effect"].fn(spark, SF_DIR).collect()[0]
    ev = load(spark, SF_DIR, "events").select("event_type", "ts", "value").collect()
    per = defaultdict(lambda: [0, 0, 0, 0])
    for e in ev:
        exp = e.ts.date().isoweekday() >= 6
        out = e.value > META_GATE
        idx = 0 if (exp and out) else 1 if exp else 2 if out else 3
        per[e.event_type][idx] += 1
    effs = []
    for st in sorted(per):
        a, b, c, d = per[st]
        rd = a / (a + b) - c / (c + d)
        v = a * b / (a + b) ** 3 + c * d / (c + d) ** 3
        effs.append((st, rd, v))
    num = sum(rd / v for _, rd, v in effs)
    den = sum(1 / v for _, rd, v in effs)
    pooled = num / den
    q = sum((rd - pooled) ** 2 / v for _, rd, v in effs)
    assert row.n_strata == len(effs)
    assert abs(row.pooled_rd - pooled) < 1e-5
    assert abs(row.pooled_se - 1 / math.sqrt(den)) < 1e-6
    assert abs(row.cochran_q - q) < 1e-4
    # the pooled estimate sits inside the per-stratum range
    rds = [rd for _, rd, _ in effs]
    assert min(rds) - 1e-9 <= row.pooled_rd <= max(rds) + 1e-9
    # weekend exposure is hash-independent of value: tiny pooled effect
    assert abs(row.pooled_rd) < 0.05


def test_crlf_file_parses_without_phantom_carriage_returns(spark):
    df = QUERIES["source_csv_crlf_handling"].fn(spark, SF_DIR)
    rows = df.collect()
    nat = sorted(
        (r.n_nationkey, r.n_name) for r in load(spark, SF_DIR, "nation").collect()
    )
    assert [(r.nation_key, r.name) for r in rows] == nat
    for r, (_, name) in zip(rows, nat):
        assert r.name_len == len(name)  # no phantom \r character
        assert "\r" not in r.name
    # the staged file genuinely uses CRLF endings
    import os

    raw = open(os.path.join(staged_dir(df, "csv_crlf"), "part-0.csv"), "rb").read()
    assert b"\r\n" in raw
    assert raw.count(b"\r\n") == len(nat) + 1  # every line, incl. header
