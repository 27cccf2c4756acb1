"""Semantic property tests for extension pack 59 (extended59.py)."""

from __future__ import annotations

import hashlib
from collections import defaultdict
from math import comb

from classification_problem_with_pyspark_spark.operators.extended59 import N_SAMPLES, PASS_K
from classification_problem_with_pyspark_spark.operators.ml_metrics import FLIP_MOD, N_GROUPS
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_pass_at_k_matches_exact_combinatorics(spark):
    rows = {r.source: r for r in QUERIES["llm_eval_pass_at_k"].fn(spark, SF_DIR).collect()}
    docs = load(spark, SF_DIR, "documents").select("doc_id", "source").collect()
    agg = defaultdict(lambda: [0, 0, 0, 0])  # n_tasks, c_sum, p1_sum, p5_sum
    for d in docs:
        diff = 20 + _h(f"diff_{d.doc_id}") % 60
        c = sum(
            1
            for i in range(N_SAMPLES)
            if _h(f"pass_{d.doc_id}_{i}") % 100 < diff
        )
        # the unbiased estimator via Python's exact binomials
        p1 = 1_000_000 - 1_000_000 * comb(N_SAMPLES - c, 1) // comb(N_SAMPLES, 1) if c < N_SAMPLES else 1_000_000
        if N_SAMPLES - c < PASS_K:
            p5 = 1_000_000
        else:
            p5 = 1_000_000 - 1_000_000 * comb(N_SAMPLES - c, PASS_K) // comb(N_SAMPLES, PASS_K)
        a = agg[d.source]
        a[0] += 1
        a[1] += c
        a[2] += p1
        a[3] += p5
    assert set(rows) == set(agg)
    for src, (n, csum, p1s, p5s) in agg.items():
        r = rows[src]
        assert (r.n_tasks, r.n_correct_samples) == (n, csum)
        assert r.mean_pass1_micro == p1s // n
        assert r.mean_pass5_micro == p5s // n
        # pass@5 dominates pass@1 (more attempts never hurt)
        assert r.mean_pass5_micro >= r.mean_pass1_micro
        assert 0 < r.mean_pass1_micro < 1_000_000


def test_fairness_gaps_match_python_replay(spark):
    rows = {r.grp: r for r in QUERIES["ml_fairness_group_gaps"].fn(spark, SF_DIR).collect()}
    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    per = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, sel, tp, pos, fp
    for e in emb:
        g = _h(f"grp_{e.vec_id}") % N_GROUPS
        y = 1 if e.label < 5 else 0
        yhat = (1 - y) if _h(f"fclf_{e.vec_id}") % FLIP_MOD == 0 else y
        a = per[g]
        a[0] += 1
        a[1] += yhat
        a[2] += 1 if (y == 1 and yhat == 1) else 0
        a[3] += y
        a[4] += 1 if (y == 0 and yhat == 1) else 0
    assert set(rows) == set(per)
    sels, tprs, fprs = [], [], []
    for g, (n, sel, tp, pos, fp) in per.items():
        r = rows[g]
        assert r.n == n
        sel_m = 1_000_000 * sel // n
        tpr_m = 1_000_000 * tp // max(1, pos)
        fpr_m = 1_000_000 * fp // max(1, n - pos)
        assert (r.sel_micro, r.tpr_micro, r.fpr_micro) == (sel_m, tpr_m, fpr_m)
        sels.append(sel_m)
        tprs.append(tpr_m)
        fprs.append(fpr_m)
    dp = max(sels) - min(sels)
    eo = max(max(tprs) - min(tprs), max(fprs) - min(fprs))
    for r in rows.values():
        assert r.demographic_parity_gap_micro == dp
        assert r.equalized_odds_gap_micro == eo
    # the hash classifier treats hash-assigned groups nearly alike —
    # gaps exist (finite samples) but are bounded
    assert 0 < dp < 200_000
