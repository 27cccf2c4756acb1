"""Semantic property tests for extension pack 57 (extended57.py)."""

from __future__ import annotations

from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.ml_metrics import _scored
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_relational_division_is_the_forall_set(spark):
    rows = {r.custkey: r for r in QUERIES["subquery_relational_division"].fn(spark, SF_DIR).collect()}
    orders = load(spark, SF_DIR, "orders").collect()
    domain = {o.o_orderpriority for o in orders}
    per_cust = defaultdict(lambda: [set(), 0, 0])
    for o in orders:
        a = per_cust[o.o_custkey]
        a[0].add(o.o_orderpriority)
        a[1] += 1
        a[2] += round(o.o_totalprice * 100)
    expected = {k: v for k, v in per_cust.items() if v[0] == domain}
    assert set(rows) == set(expected)
    assert expected  # some customers genuinely cover the domain
    assert len(expected) < len(per_cust)  # ...and some don't (non-trivial)
    for k, (_, n, cents) in expected.items():
        assert (rows[k].n_orders, rows[k].cents) == (n, cents)
    # ∀-semantics: every excluded customer is missing at least one class
    excluded = set(per_cust) - set(expected)
    for k in list(excluded)[:100]:
        assert per_cust[k][0] != domain


def test_youden_threshold_is_the_roc_argmax(spark):
    row = QUERIES["ml_threshold_youden"].fn(spark, SF_DIR).collect()
    assert len(row) == 1
    row = row[0]
    scored = _scored(spark, SF_DIR).collect()
    pos = sum(r.label for r in scored)
    neg = len(scored) - pos
    grid = defaultdict(lambda: [0, 0])
    for r in scored:
        grid[r.score][0] += r.label
        grid[r.score][1] += 1 - r.label
    tp = fp = 0
    best = None
    for score in sorted(grid, reverse=True):
        tp += grid[score][0]
        fp += grid[score][1]
        jj = 1_000_000 * tp // pos - 1_000_000 * fp // neg
        key = (-jj, score)
        if best is None or key < best[0]:
            best = (key, score, jj, 1_000_000 * tp // pos, 1_000_000 * fp // neg)
    assert row.threshold == best[1]
    assert row.youden_j_micro == best[2]
    assert (row.tpr_micro, row.fpr_micro) == (best[3], best[4])
    # the chosen point genuinely separates (J > 0 ⇔ better than chance)
    assert row.youden_j_micro > 0
    assert row.youden_j_micro == row.tpr_micro - row.fpr_micro
