"""Semantic property tests for extension pack 54 (extended54.py)."""

from __future__ import annotations

import datetime as dt
import math
import os
from collections import defaultdict

from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def test_wap_publishes_exactly_the_source_and_removes_stage(spark):
    df = QUERIES["sink_write_audit_publish"].fn(spark, SF_DIR)
    rows = {r.status: r for r in df.collect()}
    orders = load(spark, SF_DIR, "orders").collect()
    agg = defaultdict(lambda: [0, 0])
    for o in orders:
        agg[o.o_orderstatus][0] += 1
        agg[o.o_orderstatus][1] += round(o.o_totalprice * 100)
    assert set(rows) == set(agg)
    for st, (n, cents) in agg.items():
        r = rows[st]
        assert (r.n_orders, r.cents) == (n, cents)
        assert r.audit_rowcount_ok and r.audit_nullkey_ok and r.audit_conservation_ok
    # publish is a MOVE: stage dir is gone, published dir holds the data
    root = staged_dir(df, "wap")
    assert not os.path.exists(os.path.join(root, "stage"))
    assert os.path.exists(os.path.join(root, "published"))
    back = spark.read.parquet(os.path.join(root, "published"))
    assert back.count() == len(orders)


def test_chain_ladder_matches_python_triangle(spark):
    rows = {r.lag: r for r in QUERIES["agg_chain_ladder_development"].fn(spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").select("user_id", "ts", "value").collect()
    first = {}
    for e in ev:
        d = e.ts.date()
        if e.user_id not in first or d < first[e.user_id]:
            first[e.user_id] = d
    inc = defaultdict(int)  # (cohort_d, lag) -> cents
    max_d = dt.date.min
    max_lag = 0
    for e in ev:
        d = e.ts.date()
        cohort = first[e.user_id]
        lag = (d - cohort).days
        inc[(cohort, lag)] += math.floor(e.value * 100 + 0.5)
        max_d = max(max_d, d)
        max_lag = max(max_lag, lag)
    cohorts = sorted({c for c, _ in inc})
    cum = {}
    for c in cohorts:
        run = 0
        for lag in range(max_lag + 1):
            run += inc.get((c, lag), 0)
            cum[(c, lag)] = run
    expected = {}
    for lag in range(max_lag):
        obs = [c for c in cohorts if c + dt.timedelta(days=lag + 1) <= max_d]
        if not obs:
            continue
        s0 = sum(cum[(c, lag)] for c in obs)
        s1 = sum(cum[(c, lag + 1)] for c in obs)
        expected[lag] = (len(obs), s0, s1, 1_000_000 * s1 // s0)
    assert set(rows) == set(expected)
    for lag, (n, s0, s1, f) in expected.items():
        r = rows[lag]
        assert (r.n_cohorts, r.cum_at_lag, r.cum_at_next, r.factor_micro) == (
            n,
            s0,
            s1,
            f,
        )
        # development is cumulative: factors never shrink the cohort
        assert r.factor_micro >= 1_000_000
    # late lags are observable for fewer cohorts (the triangle shape)
    lags = sorted(expected)
    assert rows[lags[0]].n_cohorts >= rows[lags[-1]].n_cohorts
