"""Semantic property tests for extension pack 87 (extended87.py)."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

from classification_problem_with_pyspark_spark.operators.ml_metrics import QWK_FLIP_MOD, QWK_K
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_qwk_matches_python_replay_and_orders_metrics(spark):
    row = QUERIES["ml_quadratic_weighted_kappa"].fn(spark, SF_DIR).collect()[0]
    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    cells = Counter()
    for e in emb:
        y = e.label // 2
        if _h(f"qwk_{e.vec_id}") % QWK_FLIP_MOD == 0:
            d = 1 if _h(f"qd_{e.vec_id}") % 2 == 0 else -1
            yhat = min(QWK_K - 1, max(0, y + d))
        else:
            yhat = y
        cells[(y, yhat)] += 1
    n = sum(cells.values())
    wo = sum((i - j) ** 2 * c for (i, j), c in cells.items())
    rows_m = Counter()
    cols_m = Counter()
    for (i, j), c in cells.items():
        rows_m[i] += c
        cols_m[j] += c
    we = sum(
        (i - j) ** 2 * rows_m[i] * cols_m[j] for i in rows_m for j in cols_m
    )
    assert (row.n, row.weighted_observed, row.weighted_expected_xn) == (n, wo, we)
    assert row.qwk_micro == 1_000_000 - (1_000_000 * n * wo) // we
    # a ±1-drifting rater on a 5-point scale: strong but imperfect QWK
    assert 500_000 < row.qwk_micro < 1_000_000


def test_degree_ccdf_matches_python_bins(spark):
    rows = {r.log2_bin: r for r in QUERIES["graph_degree_ccdf_log2"].fn(spark, SF_DIR).collect()}
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey").collect()
    per_order = defaultdict(set)
    for r in li:
        per_order[r.l_orderkey].add(r.l_partkey)
    deg = Counter()
    for parts in per_order.values():
        for p in parts:
            deg[p] += 0  # ensure presence
    adj = defaultdict(set)
    for parts in per_order.values():
        for p in parts:
            adj[p].update(q for q in parts if q != p)
    degrees = {p: len(n) for p, n in adj.items()}
    bins = Counter()
    for d in degrees.values():
        b = 0
        while d >= (1 << (b + 1)):
            b += 1
        bins[b] += 1
    n = sum(bins.values())
    assert set(rows) == set(bins)
    cum = 0
    for b in sorted(bins, reverse=True):
        cum += bins[b]
        r = rows[b]
        assert r.n_nodes == bins[b]
        assert r.bin_lo == 1 << b
        assert r.n_at_least == cum
        assert r.ccdf_micro == 1_000_000 * cum // n
    # the smallest bin's CCDF covers everyone
    assert rows[min(bins)].n_at_least == n
    # multiple octaves are genuinely populated (a non-degenerate tail)
    assert len(bins) >= 3
