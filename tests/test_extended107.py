"""Semantic property tests for extension pack 107 (extended107.py)."""

from __future__ import annotations

import math
import os
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.extended107 import (
    HOUR_TRIG,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def test_circular_hour_stats_match_python_vectors(spark):
    rows = {r.event_type: r for r in QUERIES["events_circular_hour_stats"].fn(spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").select("event_type", "ts").collect()
    trig = {h: (s, c) for h, s, c in HOUR_TRIG}
    per = defaultdict(lambda: [0, 0, 0])
    for e in ev:
        s, c = trig[e.ts.hour]
        a = per[e.event_type]
        a[0] += 1
        a[1] += s
        a[2] += c
    assert set(rows) == set(per)
    for typ, (n, ss, cs) in per.items():
        r = rows[typ]
        assert (r.n, r.sin_sum_micro, r.cos_sum_micro) == (n, ss, cs)
        mean_hour = math.degrees(math.atan2(ss, cs)) / 15.0
        big_r = math.sqrt(ss * ss + cs * cs) / (1_000_000 * n)
        assert abs(r.mean_hour - mean_hour) < 1e-5
        assert abs(r.resultant_r - big_r) < 1e-6
        # a near-uniform clock: concentration is low but nonzero
        assert 0 < r.resultant_r < 0.3
        assert -12 <= r.mean_hour <= 12
    # the trig table itself is the unit circle: per-hour norm ≈ 1e6
    for h, s, c in HOUR_TRIG:
        assert abs(math.hypot(s, c) - 1_000_000) < 2


def test_degenerate_files_yield_exactly_the_real_rows(spark):
    df = QUERIES["source_degenerate_files_handling"].fn(spark, SF_DIR)
    rows = df.collect()
    nat = sorted(
        (r.n_nationkey, r.n_name) for r in load(spark, SF_DIR, "nation").collect()
    )
    assert [(r.nation_key, r.name) for r in rows] == nat
    # the fixture genuinely contains all three degenerate shapes
    stage = staged_dir(df, "degenerate_files")
    sizes = {
        f: os.path.getsize(os.path.join(stage, f))
        for f in sorted(os.listdir(stage))
    }
    assert sizes["part-2.csv"] == 0  # zero-byte file present
    assert 0 < sizes["part-1.csv"] < 30  # header-only file present
    assert sizes["part-0.csv"] > sizes["part-1.csv"]
    # no phantom rows leaked from the header-only shard
    assert len(rows) == len(nat)
