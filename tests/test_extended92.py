"""Semantic property tests for extension pack 92 (extended92.py)."""

from __future__ import annotations

import math
import os
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.extended92 import (
    PACE_TARGET_CENTS,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def test_column_order_drift_unions_by_name_not_position(spark):
    df = QUERIES["source_csv_column_order_drift"].fn(spark, SF_DIR)
    rows = df.collect()
    nat = sorted(
        (r.n_nationkey, r.n_name) for r in load(spark, SF_DIR, "nation").collect()
    )
    assert [(r.nation_key, r.name) for r in rows] == nat
    assert all(r.n_copies == 2 for r in rows)
    # the trap is real: a single positional read of the directory
    # transposes shard B's columns (names land in the key column)
    stage = staged_dir(df, "csv_col_drift")
    naive = (
        spark.read.option("header", "true")
        .schema("nation_key string, name string")
        .csv(stage)
    )
    bad = naive.where("try_cast(nation_key AS BIGINT) IS NULL").count()
    assert bad > 0  # shard B's name strings fell into nation_key
    assert os.path.exists(os.path.join(stage, "shard-b.csv"))


def test_mtd_pacing_matches_python_ledger(spark):
    rows = {r.day: r for r in QUERIES["window_mtd_pacing"].fn(spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").select("ts", "value").collect()
    daily = defaultdict(int)
    for e in ev:
        daily[e.ts.strftime("%Y-%m-%d")] += math.floor(e.value * 100 + 0.5)
    days = sorted(daily)
    n_days = len(days)
    mtd = 0
    on_pace_flips = 0
    prev_flag = None
    for i, d in enumerate(days, start=1):
        mtd += daily[d]
        target = PACE_TARGET_CENTS * i // n_days
        r = rows[d]
        assert (r.day_no, r.mtd_cents) == (i, mtd)
        assert r.pace_target_cents == target
        assert r.attainment_micro == 1_000_000 * mtd // target
        assert r.on_pace == (mtd >= target)
        if prev_flag is not None and r.on_pace != prev_flag:
            on_pace_flips += 1
        prev_flag = r.on_pace
    # the final day's pace target equals the full monthly target
    assert rows[days[-1]].pace_target_cents == PACE_TARGET_CENTS
