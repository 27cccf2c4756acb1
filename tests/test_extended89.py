"""Semantic property tests for extension pack 89 (extended89.py)."""

from __future__ import annotations

import hashlib
from collections import Counter

from classification_problem_with_pyspark_spark.operators.extended89 import SAMPLE_BUDGET
from classification_problem_with_pyspark_spark.operators.ml_metrics import (
    CURVE_FRACTIONS,
    FLIP_MOD,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_learning_curve_is_nested_and_matches_python(spark):
    rows = {r.pct_cap: r for r in QUERIES["ml_learning_curve_nested"].fn(spark, SF_DIR).collect()}
    emb = load(spark, SF_DIR, "embeddings").select("vec_id").collect()
    pts = [
        (_h(f"lc_{e.vec_id}") % 100, 0 if _h(f"clf_{e.vec_id}") % FLIP_MOD == 0 else 1)
        for e in emb
    ]
    assert set(rows) == set(CURVE_FRACTIONS)
    prev_n = 0
    for cap in CURVE_FRACTIONS:
        subset = [(p, c) for p, c in pts if p < cap]
        n, correct = len(subset), sum(c for _, c in subset)
        r = rows[cap]
        assert (r.n_rows, r.n_correct) == (n, correct)
        assert r.acc_micro == 1_000_000 * correct // n
        # nesting: each cap's subset strictly contains the previous one
        assert n >= prev_n
        prev_n = n
    assert rows[100].n_rows == len(pts)  # the full set at 100%
    # subset sizes scale roughly with the fraction (hash uniformity)
    assert abs(rows[50].n_rows - len(pts) / 2) < len(pts) * 0.15


def test_proportional_allocation_conserves_budget(spark):
    rows = {r.stratum: r for r in QUERIES["agg_proportional_allocation"].fn(spark, SF_DIR).collect()}
    docs = load(spark, SF_DIR, "documents").select("lang").collect()
    strata = Counter(d.lang for d in docs)
    n = sum(strata.values())
    assert set(rows) == set(strata)
    floors = {s: SAMPLE_BUDGET * c // n for s, c in strata.items()}
    rems = {s: SAMPLE_BUDGET * c % n for s, c in strata.items()}
    deficit = SAMPLE_BUDGET - sum(floors.values())
    winners = set(
        sorted(strata, key=lambda s: (-rems[s], s))[:deficit]
    )
    for s, c in strata.items():
        r = rows[s]
        assert r.n_h == c
        assert r.n_allocated == floors[s] + (1 if s in winners else 0)
    # THE theorem: the allocations spend the budget exactly
    assert sum(r.n_allocated for r in rows.values()) == SAMPLE_BUDGET
    # proportionality: allocation ordering follows population ordering
    by_pop = sorted(strata, key=lambda s: (-strata[s], s))
    allocs = [rows[s].n_allocated for s in by_pop]
    assert all(a >= b - 1 for a, b in zip(allocs, allocs[1:]))
