"""Semantic property tests for extension pack 116 (extended116.py)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.ml_metrics import FLIP_MOD
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def _h(prefix: str, vid: int) -> int:
    return int(hashlib.md5(f"{prefix}{vid}".encode()).hexdigest()[:15], 16)


def test_murphy_decomposition_identity_and_python_fold(spark):
    rows = QUERIES["ml_brier_decomposition_murphy"].fn(spark, SF_DIR).collect()
    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    scored = []
    for r in emb:
        o = 1 if r.label < 5 else 0
        if _h("brier_", r.vec_id) % FLIP_MOD == 0:
            f = 500_000
        elif r.label < 5:
            f = 700_000 + _h("bf_", r.vec_id) % 300_000
        else:
            f = _h("bf_", r.vec_id) % 300_000
        fq = (f // 100_000) * 100_000 + 50_000
        scored.append((fq, o))
    n = len(scored)
    pos = sum(o for _, o in scored)
    bins = defaultdict(lambda: [0, 0])
    for fq, o in scored:
        bins[fq][0] += 1
        bins[fq][1] += o
    by_bin = {r.bin_f_micro: r for r in rows}
    assert set(by_bin) == set(bins)
    rel_sum = res_sum = 0
    for fq, (nk, pk) in bins.items():
        r = by_bin[fq]
        assert (r.n_bin, r.n_pos) == (nk, pk)
        assert r.obar_micro == (1_000_000 * pk) // nk
        rel_t = (fq * nk - 1_000_000 * pk) ** 2 // nk
        a = (1_000_000 * pk * n - 1_000_000 * pos * nk) // n
        res_t = a * a // nk
        assert r.rel_term_micro2 == rel_t
        assert r.res_term_micro2 == res_t
        rel_sum += rel_t
        res_sum += res_t
    bs = sum((fq - 1_000_000 * o) ** 2 for fq, o in scored) // n
    unc = ((1_000_000 * pos) // n) * ((1_000_000 * (n - pos)) // n)
    r0 = rows[0]
    assert r0.bs_micro2 == bs
    assert r0.rel_micro2 == rel_sum // n
    assert r0.res_micro2 == res_sum // n
    assert r0.unc_micro2 == unc
    # Murphy identity: BS = REL - RES + UNC, exact up to the emitted
    # truncations (≤1 micro² per fold step, ~|bins| steps + quantized
    # prevalence products) — slack dominated by the UNC quantization
    slack = 2 * len(bins) + 2_000_000  # unc's two DIV n steps ≈ ±1e6 each
    assert abs(r0.bs_micro2 - (r0.rel_micro2 - r0.res_micro2 + r0.unc_micro2)) <= slack
    # the decomposition says something: discrimination credit is real
    assert r0.res_micro2 > 0
    assert r0.rel_micro2 >= 0


def test_simpson_matches_python_pair_counting(spark):
    rows = QUERIES["agg_simpson_diversity"].fn(spark, SF_DIR).collect()
    cust = load(spark, SF_DIR, "customer").select(
        "c_nationkey", "c_mktsegment"
    ).collect()
    seg = defaultdict(lambda: defaultdict(int))
    for r in cust:
        seg[r.c_nationkey][r.c_mktsegment] += 1
    assert {r.nationkey for r in rows} == set(seg)
    for r in rows:
        counts = list(seg[r.nationkey].values())
        n = sum(counts)
        same2 = sum(c * (c - 1) for c in counts)
        assert r.n_customers == n
        assert r.richness == len(counts)
        assert r.same_pairs2 == same2
        assert r.simpson_micro == (
            1_000_000 * (n * (n - 1) - same2)
        ) // (n * (n - 1))
        # 5 segments near-uniform -> D near 1 - 1/5
        assert 700_000 < r.simpson_micro < 840_000
