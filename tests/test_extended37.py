"""Semantic property tests for extension pack 37 (extended37.py)."""

from __future__ import annotations

import collections
import hashlib

import pyspark.sql.functions as F

from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_halflife_decay_replays(spark):
    rows = QUERIES["events_halflife_decay_score"].fn(spark, SF_DIR).collect()
    ev = (
        load(spark, SF_DIR, "events")
        .select(
            "user_id",
            F.unix_micros("ts").alias("tu"),
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .collect()
    )
    mx = max(e.tu for e in ev)
    agg = collections.defaultdict(lambda: [0, 0, 0])
    for e in ev:
        wk = (mx - e.tu) // 604_800_000_000
        a = agg[e.user_id]
        a[0] += 1
        a[1] += 1_000_000 // (1 << wk)
        a[2] += (e.cents if e.event_type == "purchase" else 0) // (1 << wk)
    assert len(rows) == len(agg)
    for r in rows:
        n, act, sp = agg[r.user_id]
        assert (r.n_events, r.decayed_activity_micro, r.decayed_spend_cents) == (
            n,
            act,
            sp,
        )
    # decay bites: total decayed activity is strictly below the undecayed mass
    assert sum(r.decayed_activity_micro for r in rows) < 1_000_000 * sum(
        r.n_events for r in rows
    )


def test_drift_chi2_null_run(spark):
    rows = QUERIES["ml_feature_drift_chi2"].fn(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    scored = QUERIES["ml_calibration_by_score"].fn(spark, SF_DIR).collect()
    assert r.n_score_levels == len(scored)
    assert r.n_users == sum(s.n for s in scored)
    # hash-random cohorts: chi2 stays well under the ~3/df-per-cell
    # rejection region (df = levels - 1; critical at p=.001 ~ 3.5x df)
    df = r.n_score_levels - 1
    assert r.chi2_micro < 6 * 1_000_000 * max(df, 1)
    assert r.chi2_micro >= 0


def test_drift_chi2_exact_recompute(spark):
    r = QUERIES["ml_feature_drift_chi2"].fn(spark, SF_DIR).collect()[0]
    cal = QUERIES["ml_calibration_by_score"].fn(spark, SF_DIR).collect()
    # rebuild the contingency from the scored cohort definition
    e = load(spark, SF_DIR, "events")
    from classification_problem_with_pyspark_spark.operators.ml_metrics import _scored

    scored = _scored(spark, SF_DIR).collect()
    cells = collections.Counter()
    for s in scored:
        h = int(
            hashlib.md5(f"drift_{s.user_id}".encode()).hexdigest()[:15], 16
        ) % 2
        cells[(s.score, h)] += 1
    rown = collections.Counter()
    coln = collections.Counter()
    for (sc, ch), n in cells.items():
        rown[sc] += n
        coln[ch] += n
    total = sum(cells.values())
    chi2 = 0
    for (sc, ch), n in cells.items():
        d = n * total - rown[sc] * coln[ch]
        chi2 += ((d * d) // (rown[sc] * coln[ch])) * 1_000_000 // total
    assert r.chi2_micro == chi2
    assert r.n_users == total
    assert e.select("user_id").distinct().count() == total
    assert len(cal) == r.n_score_levels
