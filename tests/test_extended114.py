"""Semantic property tests for extension pack 114 (extended114.py)."""

from __future__ import annotations

from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.ml_metrics import _scored
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_pr_auc_matches_python_fold(spark):
    row = QUERIES["ml_pr_auc_exact"].fn(spark, SF_DIR).collect()[0]
    scored = [(r.score, r.label) for r in _scored(spark, SF_DIR).collect()]
    n = len(scored)
    pos = sum(lab for _, lab in scored)
    grid = defaultdict(lambda: [0, 0])  # score -> [pos, count]
    for s, lab in scored:
        grid[s][0] += lab
        grid[s][1] += 1
    tp = pred = 0
    sum_nano = 0
    for s in sorted(grid, reverse=True):
        p, c = grid[s]
        tp += p
        pred += c
        sum_nano += (1_000_000_000 * p * tp) // pred
    assert row.n_users == n
    assert row.pos == pos
    assert row.n_thresholds == len(grid)
    assert row.ap_micro == sum_nano // (1000 * pos)
    assert row.prevalence_micro == (1_000_000 * pos) // n
    # AP lives in [prevalence, 1]: a score no better than random sits at
    # the prevalence baseline, a perfect ranker at 1
    assert row.prevalence_micro <= row.ap_micro <= 1_000_000


def test_pr_auc_beats_prevalence_strictly(spark):
    """The early-activity score carries real signal on this fixture —
    AP strictly above baseline pins that the metric isn't degenerate."""
    row = QUERIES["ml_pr_auc_exact"].fn(spark, SF_DIR).collect()[0]
    assert row.ap_micro > row.prevalence_micro


def test_stickiness_matches_python_fold(spark):
    rows = QUERIES["events_dau_mau_stickiness"].fn(spark, SF_DIR).collect()
    ev = load(spark, SF_DIR, "events").select("ts", "user_id").collect()
    day_users = defaultdict(set)
    month_users = defaultdict(set)
    for r in ev:
        m = (r.ts.year, r.ts.month)
        d = (r.ts.year, r.ts.month, r.ts.day)
        day_users[d].add(r.user_id)
        month_users[m].add(r.user_id)
    per_month = defaultdict(lambda: [0, 0])  # month -> [days, dau_sum]
    for (y, mo, _d), users in day_users.items():
        per_month[(y, mo)][0] += 1
        per_month[(y, mo)][1] += len(users)
    assert len(rows) == len(per_month)
    for r in rows:
        key = (r.month.year, r.month.month)
        days, dau_sum = per_month[key]
        mau = len(month_users[key])
        assert r.days_active == days
        assert r.dau_sum == dau_sum
        assert r.avg_dau_micro == (1_000_000 * dau_sum) // days
        assert r.mau == mau
        assert r.stickiness_micro == (1_000_000 * dau_sum) // (days * mau)
        # ratio bounds: a user active once a month floors it at ~1/days
        assert 0 < r.stickiness_micro <= 1_000_000
