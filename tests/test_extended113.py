"""Semantic property tests for extension pack 113 (extended113.py)."""

from __future__ import annotations

from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.llm_dedup import (
    MMR_K,
    MMR_LAMBDA10,
    MMR_POOL,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def _cos_micro(a, b):
    num = sum(float(x) * float(y) for x, y in zip(a, b))
    na = sum(float(x) * float(x) for x in a) ** 0.5
    nb = sum(float(y) * float(y) for y in b) ** 0.5
    return round(1_000_000 * (num / (na * nb)))


def test_mmr_greedy_matches_python_reference(spark):
    rows = QUERIES["llm_mmr_diversified_topk"].fn(spark, SF_DIR).collect()
    emb = {r.vec_id: r.embedding for r in load(spark, SF_DIR, "embeddings").collect()}
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.qid].append(r)
    assert by_q, "no sampled queries"
    for qid, picks in by_q.items():
        picks.sort(key=lambda r: r.pick)
        assert [p.pick for p in picks] == list(range(1, MMR_K + 1))
        # rebuild the pool and replay the greedy in pure python
        sims = {
            c: _cos_micro(emb[qid], e) for c, e in emb.items() if c != qid
        }
        pool = sorted(sims, key=lambda c: (-sims[c], c))[:MMR_POOL]
        pool_set = set(pool)
        selected = []
        for _ in range(MMR_K):
            best = None
            for c in pool:
                if c in selected:
                    continue
                max_sel = max(
                    (_cos_micro(emb[c], emb[s]) for s in selected), default=0
                )
                score = MMR_LAMBDA10 * sims[c] - (10 - MMR_LAMBDA10) * max_sel
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, score)
            selected.append(best[1])
        assert [p.cand for p in picks] == selected, qid
        for p in picks:
            assert p.cand in pool_set
            assert p.simq_micro == sims[p.cand]
    # diversification is real: pick 2 is NOT always relevance rank 2
    # (if it were, MMR would equal plain top-k and the key is pointless)
    diversified = 0
    for qid, picks in by_q.items():
        sims = {c: _cos_micro(emb[qid], e) for c, e in emb.items() if c != qid}
        rel_order = sorted(sims, key=lambda c: (-sims[c], c))[:MMR_K]
        if [p.cand for p in sorted(picks, key=lambda r: r.pick)] != rel_order:
            diversified += 1
    assert diversified > 0


def test_cov_topk_matches_python_moments(spark):
    rows = QUERIES["emb_cov_topk_pairs"].fn(spark, SF_DIR).collect()
    vecs = [r.embedding for r in load(spark, SF_DIR, "embeddings").collect()]
    n = len(vecs)
    dim = len(vecs[0])
    q = [[round(float(v[d]) * 1_000_000) for d in range(dim)] for v in vecs]
    s = [sum(row[d] for row in q) for d in range(dim)]
    cov = {}
    for i in range(dim):
        for j in range(i + 1, dim):
            sxy = sum(row[i] * row[j] for row in q)
            cov[(i, j)] = n * sxy - s[i] * s[j]
    top = sorted(cov, key=lambda k: (-abs(cov[k]), k))[:20]
    assert [(r.di, r.dj) for r in rows] == top
    for r in rows:
        assert r.n == n
        assert r.cov_scaled == cov[(r.di, r.dj)]
    # int64 headroom claim: the largest |scaled cov| stays well inside
    assert max(abs(v) for v in cov.values()) < 2**62
