"""Semantic property tests for extension pack 76 (extended76.py)."""

from __future__ import annotations

from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.ml_metrics import _scored
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_receivables_aging_matches_python_buckets(spark):
    rows = {r.bucket: r for r in QUERIES["agg_receivables_aging"].fn(spark, SF_DIR).collect()}
    orders = load(spark, SF_DIR, "orders").collect()
    asof = max(o.o_orderdate.date() for o in orders)
    agg = defaultdict(lambda: [0, 0, 10**9, -1])
    for o in orders:
        if o.o_orderstatus != "O":
            continue
        age = (asof - o.o_orderdate.date()).days
        b = (
            "0_current" if age <= 30
            else "1_31_60" if age <= 60
            else "2_61_90" if age <= 90
            else "3_over_90"
        )
        a = agg[b]
        a[0] += 1
        a[1] += round(o.o_totalprice * 100)
        a[2] = min(a[2], age)
        a[3] = max(a[3], age)
    assert set(rows) == set(agg)
    for b, (n, cents, mn, mx) in agg.items():
        r = rows[b]
        assert (r.n_invoices, r.cents) == (n, cents)
        assert (r.min_age_d, r.max_age_d) == (mn, mx)
    # boundary conventions hold: bucket edges never overlap
    assert rows["0_current"].max_age_d <= 30
    if "1_31_60" in rows:
        assert 31 <= rows["1_31_60"].min_age_d
        assert rows["1_31_60"].max_age_d <= 60
    assert rows["3_over_90"].min_age_d >= 91


def test_ks_separation_matches_python_cdf_gap(spark):
    row = QUERIES["ml_ks_separation_exact"].fn(spark, SF_DIR).collect()[0]
    scored = _scored(spark, SF_DIR).collect()
    n1 = sum(r.label for r in scored)
    n0 = len(scored) - n1
    grid = defaultdict(lambda: [0, 0])
    for r in scored:
        grid[r.score][0] += r.label
        grid[r.score][1] += 1 - r.label
    c1 = c0 = 0
    best = None
    for score in sorted(grid):
        c1 += grid[score][0]
        c0 += grid[score][1]
        gap = abs(c1 * n0 - c0 * n1)
        key = (-gap, score)
        if best is None or key < best[0]:
            best = (key, score, c1, c0, gap)
    assert row.ks_score == best[1]
    assert (row.cum_pos, row.cum_neg) == (best[2], best[3])
    assert row.ks_micro == 1_000_000 * best[4] // (n1 * n0)
    # a genuinely predictive score: KS is solidly positive yet < 1
    assert 100_000 < row.ks_micro < 1_000_000
