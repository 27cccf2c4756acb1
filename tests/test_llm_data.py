"""Semantic property tests for the sampling, mixing, packing, preference
and evaluation keys (``operators/llm_data.py``); each replays a key's
rows in Python."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict
from math import comb

from classification_problem_with_pyspark_spark.operators.llm_data import N_SAMPLES, PASS_K
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


def test_group_advantage_matches_python_fold(spark):
    rows = QUERIES["llm_group_advantage_normalize"].fn(spark, SF_DIR).collect()
    docs = load(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    rewards = {}
    groups = defaultdict(list)
    for r in docs:
        ws = r.text.split(" ")
        rew = (1_000_000 * len(set(ws))) // len(ws)
        rewards[r.doc_id] = (r.source, rew)
        groups[r.source].append(rew)
    assert len(rows) == len(docs)
    for row in rows:
        src, rew = rewards[row.doc_id]
        assert row.source == src
        assert row.reward_micro == rew
        rs = groups[src]
        n, s, q = len(rs), sum(rs), sum(x * x for x in rs)
        assert row.group_mean_micro == s // n
        var_scaled = n * q - s * s
        assert row.group_std_micro == round(math.sqrt(var_scaled) / n)
        if var_scaled == 0:
            assert row.advantage_micro == 0
        else:
            z = (rew - s / n) / (math.sqrt(var_scaled) / n)
            assert row.advantage_micro == round(1_000_000 * z)


def test_group_advantage_sums_near_zero_per_group(spark):
    """Standardized scores sum to ~0 within every group (exactly 0 up
    to micro-rounding of n terms)."""
    rows = QUERIES["llm_group_advantage_normalize"].fn(spark, SF_DIR).collect()
    per_group = defaultdict(list)
    for r in rows:
        per_group[r.source].append(r.advantage_micro)
    for src, advs in per_group.items():
        assert abs(sum(advs)) <= len(advs), src  # ≤ 1 micro rounding each
