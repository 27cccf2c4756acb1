"""Semantic property tests for extension pack 43 (extended43.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from classification_problem_with_pyspark_spark.operators.extended43 import (
    TAIL_PCT_DIV,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def test_tail_attribution_replays(spark):
    rows = QUERIES["agg_tail_attribution_topk"].fn(spark, SF_DIR).collect()
    ev = (
        load(spark, SF_DIR, "events")
        .select(
            "event_id",
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .collect()
    )
    n = len(ev)
    k = n // TAIL_PCT_DIV
    tail = sorted(ev, key=lambda x: (-x.cents, x.event_id))[:k]
    import collections

    per = collections.defaultdict(lambda: [0, 0])
    for t in tail:
        per[t.event_type][0] += 1
        per[t.event_type][1] += t.cents
    assert len(rows) == len(per)
    all_cents = sum(v[1] for v in per.values())
    for r in rows:
        cnt, cents = per[r.event_type]
        assert (r.n_tail_events, r.tail_cents) == (cnt, cents)
        assert r.tail_share_micro == 1_000_000 * cnt // k
        assert r.tail_mass_share_micro == 1_000_000 * cents // all_cents
    assert sum(r.n_tail_events for r in rows) == k


def test_jsonl_malformed_quarantines_exactly_the_bad_lines(spark):
    df = QUERIES["source_jsonl_malformed"].fn(spark, SF_DIR)
    rows = df.collect()
    nat = load(spark, SF_DIR, "nation").collect()
    valid = {x.n_name for x in nat if x.n_nationkey % 5 != 2}
    corrupt = {x.n_name for x in nat if x.n_nationkey % 5 == 2}
    assert {r.name for r in rows} == valid
    assert df.count() == len(rows)
    assert corrupt  # the fixture genuinely injects corruption
    regions = {x.n_name: x.n_regionkey for x in nat}
    for r in rows:
        assert r.region == regions[r.name]
        assert r.status == "valid"
    # and the PERMISSIVE read captured the corrupt lines, row for row
    import os

    path = os.path.join(staged_dir(df, "jsonl_malformed"), "part-0.jsonl")
    back = (
        spark.read.schema("name string, region bigint, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()  # Spark disallows querying ONLY the corrupt column raw
    )
    try:
        n_corrupt = back.where(F.col("_corrupt_record").isNotNull()).count()
    finally:
        back.unpersist()
    assert n_corrupt == len(corrupt)
