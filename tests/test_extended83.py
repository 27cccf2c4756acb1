"""Semantic property tests for extension pack 83 (extended83.py)."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.extended83 import SLO_PPM
from classification_problem_with_pyspark_spark.operators.llm_dedup import (
    QUERY_MOD,
    RRF_K,
    RRF_TOP,
    SHINGLE_N,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_rrf_fuses_both_modalities_and_matches_python(spark):
    rows = QUERIES["llm_rank_fusion_rrf"].fn(spark, SF_DIR).collect()
    emb = {r.vec_id: [float(x) for x in r.embedding] for r in load(spark, SF_DIR, "embeddings").collect()}
    docs = {r.doc_id: r.text for r in load(spark, SF_DIR, "documents").collect()}
    queries = sorted(
        v for v in emb
        if int(hashlib.md5(f"rrfq_{v}".encode()).hexdigest()[:15], 16) % QUERY_MOD == 0
    )
    assert queries
    shingle_sets = {
        i: {
            " ".join(t.split(" ")[j : j + SHINGLE_N])
            for j in range(len(t.split(" ")) - SHINGLE_N + 1)
        }
        for i, t in docs.items()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b)), 6)

    got = defaultdict(list)
    for r in rows:
        got[r.qid].append(r)
    assert set(got) == set(queries)
    for q in queries:
        dense_rank = {
            c: i + 1
            for i, c in enumerate(
                sorted(
                    (c for c in emb if c != q),
                    key=lambda c: (-cos(emb[q], emb[c]), c),
                )
            )
        }
        overl = {
            c: len(shingle_sets[q] & shingle_sets[c])
            for c in docs
            if c != q and len(shingle_sets[q] & shingle_sets[c]) > 0
        }
        sparse_rank = {
            c: i + 1
            for i, c in enumerate(sorted(overl, key=lambda c: (-overl[c], c)))
        }
        fused = {}
        for c in set(dense_rank) | set(sparse_rank):
            fused[c] = (
                (1_000_000 // (RRF_K + dense_rank[c]) if c in dense_rank else 0)
                + (1_000_000 // (RRF_K + sparse_rank[c]) if c in sparse_rank else 0)
            )
        top = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:RRF_TOP]
        engine = sorted(got[q], key=lambda r: r.fused_rank)
        assert [(r.cand, r.rrf_micro) for r in engine] == top
        for r in engine:
            assert r.rank_dense == dense_rank.get(r.cand, -1)
            assert r.rank_sparse == sparse_rank.get(r.cand, -1)
    # fusion genuinely uses both legs: some top rows rank high in only one
    assert any(r.rank_sparse == -1 for r in rows) or any(
        r.rank_dense > RRF_TOP for r in rows
    )


def test_slo_error_budget_ledger_matches_python(spark):
    rows = {r.day: r for r in QUERIES["events_slo_error_budget"].fn(spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").select("ts", "event_type").collect()
    daily = defaultdict(lambda: [0, 0])
    for e in ev:
        d = e.ts.strftime("%Y-%m-%d")
        daily[d][0] += 1
        daily[d][1] += 1 if e.event_type == "error" else 0
    ppm_fail = 1_000_000 - SLO_PPM
    cum_n = cum_e = 0
    for day in sorted(daily):
        n, errs = daily[day]
        cum_n += n
        cum_e += errs
        r = rows[day]
        assert (r.n, r.errors) == (n, errs)
        total = cum_n * ppm_fail // 1_000_000
        assert r.budget_total == total
        assert r.budget_spent == cum_e
        assert r.budget_remaining == total - cum_e
        assert r.budget_exhausted == (cum_e > total)
    # the fixture's ~20% error rate exhausts a 99% SLO immediately —
    # the ledger must say so loudly
    assert all(r.budget_exhausted for r in rows.values())
