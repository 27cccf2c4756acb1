"""Round-4 extension pack #113: MMR-diversified retrieval and top
covariant embedding-dimension pairs.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — Maximal Marginal Relevance (Carbonell & Goldstein 1998:
greedily pick argmax λ·sim(q,d) − (1−λ)·max sim(d, selected), the
de-duplicating reranker every RAG stack ships so five near-identical
passages don't fill the context window) and dimension-covariance
profiling (the off-diagonal mass of the feature covariance matrix —
what PCA/ZCA whitening removes; the top |cov| pairs name the redundant
coordinates) — re-expressed on the public PySpark DataFrame API over
the driver's testdata.

Hash-parity discipline (round-4 standard): cosine similarities quantize
to exact micro integers BEFORE any comparison (the driver-verified
cosine discipline), the MMR greedy unrolls a FIXED {MMR_K} rounds with
(score, cand) total-order ties, and covariances fold as the exact
BIGINT cross-moment n·Σxy − Σx·Σy in µ² units — division-free ranking
because every pair shares the same n.

Scale posture (SURVEY.md §7.6): MMR scores |queries|×|corpus| once
(queries are the hash sample; at 100 TB candidates arrive from the ANN
keys), then the greedy runs on top-{MMR_POOL} pools — {MMR_K} bounded
window rounds over {MMR_POOL}² pair tables per query. Covariance is one
posexplode pair expansion with map-side integer partials — dims², not
rows², is the fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.functions.vector import dot, norm
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

MMR_QUERY_MOD = 100  # ~|vectors|/100 hash-chosen queries
MMR_POOL = 20  # relevance pool fed to the greedy
MMR_K = 5  # diversified picks per query
# λ = 0.7 as integer tenths: score10 = 7·sim_q − 3·max_sim_selected
MMR_LAMBDA10 = 7

_MMR_BASE_SQL = f"""
    qs AS (
        SELECT vec_id AS qid, embedding AS q_emb FROM embeddings
        WHERE CAST(('0x' || substr(md5('mmrq_' || CAST(vec_id AS VARCHAR)),
                                   1, 15)) AS BIGINT) % {MMR_QUERY_MOD} = 0
    ),
    scored AS (
        SELECT q.qid, c.vec_id AS cand,
               CAST(round(1000000 * list_cosine_similarity(
                   list_transform(q.q_emb, x -> CAST(x AS DOUBLE)),
                   list_transform(c.embedding, x -> CAST(x AS DOUBLE))))
                   AS BIGINT) AS simq_micro,
               row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY CAST(round(1000000 * list_cosine_similarity(
                       list_transform(q.q_emb, x -> CAST(x AS DOUBLE)),
                       list_transform(c.embedding, x -> CAST(x AS DOUBLE))))
                       AS BIGINT) DESC, c.vec_id) AS rnk
        FROM qs q JOIN embeddings c ON c.vec_id <> q.qid
    ),
    pool AS MATERIALIZED (
        SELECT qid, cand, simq_micro FROM scored WHERE rnk <= {MMR_POOL}),
    pp AS MATERIALIZED (
        SELECT a.qid, a.cand AS ca, b.cand AS cb,
               CAST(round(1000000 * list_cosine_similarity(
                   list_transform(ea.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(eb.embedding, x -> CAST(x AS DOUBLE))))
                   AS BIGINT) AS sim_micro
        FROM pool a
        JOIN pool b ON b.qid = a.qid AND b.cand <> a.cand
        JOIN embeddings ea ON ea.vec_id = a.cand
        JOIN embeddings eb ON eb.vec_id = b.cand
    )
"""


def _mmr_round_sql(i: int) -> str:
    """CTE pair (score_i, sel_i): pick #{i} by the MMR objective."""
    prev_sel = " UNION ALL ".join(f"SELECT * FROM sel_{j}" for j in range(1, i))
    return f"""
    score_{i} AS (
        SELECT p.qid, p.cand, p.simq_micro,
               {MMR_LAMBDA10} * p.simq_micro
                 - {10 - MMR_LAMBDA10} * COALESCE((
                       SELECT max(pp.sim_micro) FROM pp, ({prev_sel}) s
                       WHERE pp.qid = p.qid AND pp.ca = p.cand
                         AND pp.cb = s.cand AND s.qid = p.qid), 0)
                   AS score10
        FROM pool p
        WHERE NOT EXISTS (SELECT 1 FROM ({prev_sel}) s
                          WHERE s.qid = p.qid AND s.cand = p.cand)
    ),
    sel_{i} AS MATERIALIZED (
        SELECT qid, cand, simq_micro, score10, {i} AS pick
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY score10 DESC, cand) AS rn FROM score_{i}) z
        WHERE rn = 1
    )"""


def _mmr_round1_sql() -> str:
    return f"""
    sel_1 AS MATERIALIZED (
        SELECT qid, cand, simq_micro,
               {MMR_LAMBDA10} * simq_micro AS score10, 1 AS pick
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY {MMR_LAMBDA10} * simq_micro DESC, cand) AS rn
              FROM pool) z
        WHERE rn = 1
    )"""


@register(
    "llm_mmr_diversified_topk",
    oracle="WITH "
    + _MMR_BASE_SQL
    + ","
    + _mmr_round1_sql()
    + ","
    + ",".join(_mmr_round_sql(i) for i in range(2, MMR_K + 1))
    + f"""
    SELECT qid, CAST(pick AS BIGINT) AS pick, cand, simq_micro, score10
    FROM ({" UNION ALL ".join(f"SELECT * FROM sel_{i}" for i in range(1, MMR_K + 1))}) u
    ORDER BY qid, pick
    """,
)
def llm_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-k retrieval (SURVEY.md §2.12): for each
    hash-sampled query, greedily pick {MMR_K} of the top-{MMR_POOL}
    relevance pool maximizing λ·sim(q,d) − (1−λ)·max sim(d, picked)
    with λ = 0.7 — Carbonell-Goldstein MMR, the reranker that stops a
    RAG context window from filling with five copies of the same
    passage. Output: (query, pick#, candidate, relevance, MMR score).

    Exactness: sims quantize to exact micro BEFORE comparison; the
    score is pure integer arithmetic in deci-units (7·simq −
    3·max_sel); every pick breaks ties by (score DESC, cand) — the
    greedy is a deterministic function of the integer sim table, and
    the {MMR_K} rounds are UNROLLED identically on both engines.

    Scale: relevance scoring is the |queries|×|corpus| pass (queries
    are the hash sample; ANN keys supply the pool at 100 TB); the
    greedy itself touches only {MMR_POOL}-row pools and their
    {MMR_POOL}² pair sims per query — bounded work per round, window
    argmax, no driver loop over data.
    """
    e = load(spark, sf_dir, "embeddings")
    qhash = md5_long(F.concat(F.lit("mmrq_"), F.col("vec_id").cast("string")))
    queries = (
        e.where(qhash % MMR_QUERY_MOD == 0)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
    )
    queries = spread(queries, "qid")
    cands = e.select(F.col("vec_id").alias("cand"), F.col("embedding").alias("c_emb"))
    simq = F.expr(
        "CAST(round(1000000 * (sim_raw)) AS BIGINT)"
    )
    scored = (
        queries.crossJoin(F.broadcast(cands))
        .where(F.col("cand") != F.col("qid"))
        .select(
            "qid",
            "cand",
            (
                dot(F.col("q_emb"), F.col("c_emb"))
                / (norm(F.col("q_emb")) * norm(F.col("c_emb")))
            ).alias("sim_raw"),
        )
        .select("qid", "cand", simq.alias("simq_micro"))
    )
    w_rel = Window.partitionBy("qid").orderBy(F.desc("simq_micro"), "cand")
    pool = (
        scored.withColumn("rnk", F.row_number().over(w_rel))
        .where(F.col("rnk") <= MMR_POOL)
        .select("qid", "cand", "simq_micro")
        .localCheckpoint(eager=True)  # scoring pass runs once, not per round
    )
    ea = e.select(F.col("vec_id").alias("ca"), F.col("embedding").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("cb"), F.col("embedding").alias("emb_b"))
    pa = pool.select("qid", F.col("cand").alias("ca"))
    pb = pool.select(F.col("qid").alias("qid_b"), F.col("cand").alias("cb"))
    pp = (
        pa.join(pb, (pa.qid == pb.qid_b) & (F.col("ca") != F.col("cb")))
        .join(F.broadcast(ea), "ca")
        .join(F.broadcast(eb), "cb")
        .withColumn(
            "pp_raw",
            dot(F.col("emb_a"), F.col("emb_b"))
            / (norm(F.col("emb_a")) * norm(F.col("emb_b"))),
        )
        .select(
            # fresh attribute id: pp descends from pool, so keeping pool's
            # qid would make the cogroup keys ambiguous (same-lineage)
            F.col("qid").alias("qid_p"),
            "ca",
            "cb",
            F.expr("CAST(round(1000000 * pp_raw) AS BIGINT)").alias("sim_micro"),
        )
    )

    # r12 optimization (guide §4.2): the greedy itself is a per-query
    # SEQUENTIAL fold over a BOUNDED pool (≤{MMR_POOL} candidates,
    # ≤{MMR_POOL}² integer pair sims), so the former {MMR_K} unrolled
    # distributed rounds — each a join + window + eager localCheckpoint,
    # 47 jobs total at sf0.1 — collapse into ONE cogrouped applyInPandas
    # pass: pool ⟂ pp cogrouped on qid, the greedy replayed per group in
    # plain integer Python (8.3 s → ~2 s; 47 jobs → ~6). Every sim is
    # quantized to exact micro BEFORE it crosses the Arrow boundary and
    # the score is pure int arithmetic (7·simq − 3·max_sel, ties by
    # (score DESC, cand)), so the picks are bit-identical to the unrolled
    # form and the DuckDB oracle (hash-verified). Work per group is
    # bounded by the pool, never the corpus — the same 100 TB posture as
    # the round-unrolled plan, minus its per-round shuffles.
    def _greedy(key, pool_pdf, pp_pdf):
        import pandas as pd

        qid = int(key[0])
        simq = dict(
            zip(pool_pdf["cand"].astype(int), pool_pdf["simq_micro"].astype(int))
        )
        pair = {}
        for ca, cb, s in zip(
            pp_pdf["ca"].astype(int), pp_pdf["cb"].astype(int),
            pp_pdf["sim_micro"].astype(int),
        ):
            pair[(ca, cb)] = s
        selected: list[int] = []
        out = []
        for pick in range(1, MMR_K + 1):
            best = None
            for cand, sq in simq.items():
                if cand in selected:
                    continue
                max_sel = max(
                    (pair[(cand, s)] for s in selected if (cand, s) in pair),
                    default=0,
                )
                score = MMR_LAMBDA10 * sq - (10 - MMR_LAMBDA10) * max_sel
                k = (-score, cand)
                if best is None or k < best[0]:
                    best = (k, cand, sq, score)
            if best is None:
                break
            selected.append(best[1])
            out.append((qid, pick, best[1], best[2], best[3]))
        return pd.DataFrame(
            out, columns=["qid", "pick", "cand", "simq_micro", "score10"]
        ).astype("int64")

    sel = (
        pool.groupBy("qid")
        .cogroup(pp.groupBy("qid_p"))
        .applyInPandas(
            _greedy,
            schema="qid long, pick long, cand long, simq_micro long, score10 long",
        )
    )
    return sel.orderBy("qid", "pick")


@register(
    "emb_cov_topk_pairs",
    oracle="""
    WITH dims AS (
        SELECT vec_id, d - 1 AS d,
               CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000) AS BIGINT)
                   AS q
        FROM embeddings,
             LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS d)
    ),
    moments1 AS (
        SELECT d, CAST(SUM(q) AS BIGINT) AS s FROM dims GROUP BY d
    ),
    cross_m AS (
        SELECT a.d AS di, b.d AS dj,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(a.q * b.q) AS BIGINT) AS sxy
        FROM dims a JOIN dims b
          ON b.vec_id = a.vec_id AND b.d > a.d
        GROUP BY a.d, b.d
    )
    SELECT di, dj, n,
           CAST(c.n * c.sxy - ma.s * mb.s AS BIGINT) AS cov_scaled
    FROM cross_m c
    JOIN moments1 ma ON ma.d = c.di
    JOIN moments1 mb ON mb.d = c.dj
    ORDER BY abs(c.n * c.sxy - ma.s * mb.s) DESC, di, dj
    LIMIT 20
    """,
)
def emb_cov_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-|covariance| embedding dimension pairs (SURVEY.md §2.12):
    the 20 most strongly co-varying coordinate pairs, ranked by the
    exact integer cross-moment n·Σxᵢxⱼ − Σxᵢ·Σxⱼ (= n²·cov in µ²
    units) — the off-diagonal mass ZCA whitening removes and the
    first thing to inspect when embedding dims are suspected
    redundant. Division-free ranking: every pair shares n, so the
    scaled cross-moment orders identically to covariance.

    Exactness: values quantize to micro once; all moments are exact
    BIGINTs; headroom n·Σxy ≤ n²·1e12 — inside int64 through sf0.1
    (4·10¹⁸); at sf1 center by the global mean first (the standard
    two-pass), which shrinks Σxy by ~the mean² mass.

    Scale: one posexplode then a per-vector dims×dims expansion —
    fan-out is dims²·rows with map-side integer partials collapsing
    to the dims² moment table; rows never pair with rows.
    """
    e = spread(load(spark, sf_dir, "embeddings"), "vec_id")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("d", "x")
    ).select(
        "vec_id",
        "d",
        F.expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").alias("q"),
    )
    m1 = dims.groupBy("d").agg(F.sum("q").cast("long").alias("s"))
    a = dims.select("vec_id", F.col("d").alias("di"), F.col("q").alias("qa"))
    b = dims.select(
        F.col("vec_id").alias("vid_b"), F.col("d").alias("dj"), F.col("q").alias("qb")
    )
    cross = (
        a.join(b, (a.vec_id == b.vid_b) & (F.col("dj") > F.col("di")))
        .groupBy("di", "dj")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("qa") * F.col("qb")).cast("long").alias("sxy"),
        )
    )
    ma = m1.select(F.col("d").alias("di"), F.col("s").alias("sa"))
    mb = m1.select(F.col("d").alias("dj"), F.col("s").alias("sb"))
    ranked = (
        cross.join(F.broadcast(ma), "di")
        .join(F.broadcast(mb), "dj")
        .select(
            "di",
            "dj",
            "n",
            (F.col("n") * F.col("sxy") - F.col("sa") * F.col("sb"))
            .cast("long")
            .alias("cov_scaled"),
        )
    )
    return (
        ranked.orderBy(F.abs("cov_scaled").desc(), "di", "dj")
        .limit(20)
        .select("di", "dj", "n", "cov_scaled")
    )
