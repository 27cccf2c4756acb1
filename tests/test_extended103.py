"""Semantic property tests for extension pack 103 (extended103.py)."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.llm_dedup import QUERY_MOD, SHINGLE_N
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_mrr_matches_python_cross_modal_replay(spark):
    row = QUERIES["llm_retrieval_mrr"].fn(spark, SF_DIR).collect()[0]
    emb = {r.vec_id: [float(x) for x in r.embedding] for r in load(spark, SF_DIR, "embeddings").collect()}
    docs = {r.doc_id: r.text for r in load(spark, SF_DIR, "documents").collect()}
    queries = sorted(
        v for v in emb
        if int(hashlib.md5(f"rrfq_{v}".encode()).hexdigest()[:15], 16) % QUERY_MOD == 0
    )
    sh = {
        i: {
            " ".join(t.split(" ")[j : j + SHINGLE_N])
            for j in range(len(t.split(" ")) - SHINGLE_N + 1)
        }
        for i, t in docs.items()
    }

    def cos(a, b):
        return round(
            sum(x * y for x, y in zip(a, b))
            / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b)),
            6,
        )

    rr_sum = n = rank1 = top10 = worst = 0
    for q in queries:
        overlaps = {
            c: len(sh[q] & sh[c]) for c in docs if c != q and sh[q] & sh[c]
        }
        if not overlaps:
            continue
        rel = min(overlaps, key=lambda c: (-overlaps[c], c))
        order = sorted(
            (c for c in emb if c != q), key=lambda c: (-cos(emb[q], emb[c]), c)
        )
        rnk = order.index(rel) + 1
        n += 1
        rr_sum += 1_000_000 // rnk
        rank1 += rnk == 1
        top10 += rnk <= 10
        worst = max(worst, rnk)
    assert row.n_queries == n
    assert (row.n_rank1, row.n_top10) == (rank1, top10)
    assert row.worst_rank == worst
    assert row.mrr_micro == rr_sum // n
    # EMPIRICAL FINDING this fixture pins: the synthetic embeddings do
    # NOT encode lexical overlap (MRR ~0.004, no top-10 hits) — the two
    # modalities are independent here, which is precisely the regime
    # where RRF fusion adds recall neither leg has alone
    assert row.mrr_micro > 0
    assert row.n_top10 == 0


def test_two_way_anova_partitions_sums_of_squares(spark):
    row = QUERIES["agg_two_way_anova"].fn(spark, SF_DIR).collect()[0]
    ev = load(spark, SF_DIR, "events").select("event_type", "ts", "value").collect()
    cells = defaultdict(lambda: [0, 0])
    for e in ev:
        w = 1 if e.ts.date().isoweekday() >= 6 else 0
        cells[(w, e.event_type)][0] += 1
        cells[(w, e.event_type)][1] += math.floor(e.value * 10 + 0.5)
    gs = sum(v[1] for v in cells.values())
    gn = sum(v[0] for v in cells.values())
    cm = gs * gs / gn

    def fold(groups):
        return sum(s * s / n for n, s in groups)

    ss_cells = fold(cells.values()) - cm
    w_marg = defaultdict(lambda: [0, 0])
    t_marg = defaultdict(lambda: [0, 0])
    for (w, t), (n, s) in cells.items():
        w_marg[w][0] += n
        w_marg[w][1] += s
        t_marg[t][0] += n
        t_marg[t][1] += s
    ss_w = fold(w_marg.values()) - cm
    ss_t = fold(t_marg.values()) - cm
    assert abs(row.ss_cells - ss_cells) < 1
    assert abs(row.ss_weekend - ss_w) < 1
    assert abs(row.ss_type - ss_t) < 1
    assert abs(row.ss_interaction - (ss_cells - ss_w - ss_t)) < 1
    # decomposition sanity: components are non-negative-ish and the model
    # SS dominates each main effect
    assert row.ss_cells >= row.ss_type - 1
    assert row.ss_cells >= row.ss_weekend - 1
    assert row.ss_type > 0  # event types genuinely differ in value
