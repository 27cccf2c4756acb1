"""Round-3 extension pack #83: reciprocal-rank-fusion hybrid retrieval
and SLO error-budget burn.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR
2009: fuse rankers by Σ 1/(k + rankᵢ), k = 60 — the stupidly-effective
hybrid-retrieval combiner every dense+sparse RAG stack ships) and SLO
error-budget accounting (the SRE-book burn ledger: a 99% objective
grants (1−SLO)·traffic failures per window; spend is tracked
cumulatively) — re-expressed on the public PySpark DataFrame API over
the driver's testdata.

Hash-parity discipline (round-3 standard): the dense ranker is the
driver-verified exact-cosine discipline (ROUND-6, id tie-break); the
sparse ranker is exact shingle-overlap counts; RRF folds per-term
floor-micro 1e6//(60+rank) — identical integer divisions summed, and
absent-from-one-ranker candidates contribute nothing (the standard
convention, stated). Budget arithmetic is pure integers.

Scale posture (SURVEY.md §7.6): the dense leg scores only
|queries|×|candidates| (queries are a hash sample — the fusion cost
model, not brute force); the sparse leg is a digest join bounded by
true overlap; fusion is a per-query full-outer join of two skinny
rank relations. The budget ledger is a daily count + running window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.functions.vector import dot, norm
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

RRF_K = 60
RRF_QUERY_MOD = 25  # ~|docs|/25 hash-chosen queries
RRF_TOP = 5
RRF_NGRAM = 5
SLO_PPM = 990_000  # 99.0% objective in micro


@register(
    "llm_rank_fusion_rrf",
    oracle=f"""
    WITH queries AS (
        SELECT vec_id AS qid FROM embeddings
        WHERE CAST(('0x' || substr(md5('rrfq_' || CAST(vec_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % {RRF_QUERY_MOD} = 0
    ),
    dense AS (
        SELECT q.qid, b.vec_id AS cand,
               row_number() OVER (PARTITION BY q.qid
                   ORDER BY ROUND(list_cosine_similarity(
                       list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6)
                       DESC, b.vec_id) AS rnk
        FROM queries q
        JOIN embeddings a ON a.vec_id = q.qid
        JOIN embeddings b ON b.vec_id <> q.qid
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    shingles AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(ws[i:i+{RRF_NGRAM - 1}], ' ')) AS digest
        FROM toks,
             LATERAL (SELECT unnest(range(1, len(ws) - {RRF_NGRAM - 1} + 1)) AS i)
        WHERE len(ws) >= {RRF_NGRAM}
    ),
    sparse_pairs AS (
        SELECT q.qid, b.doc_id AS cand, CAST(COUNT(*) AS BIGINT) AS shared
        FROM queries q
        JOIN shingles a ON a.doc_id = q.qid
        JOIN shingles b ON b.digest = a.digest AND b.doc_id <> q.qid
        GROUP BY q.qid, b.doc_id
    ),
    sparse AS (
        SELECT qid, cand,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY shared DESC, cand) AS rnk
        FROM sparse_pairs
    ),
    fused AS (
        SELECT COALESCE(d.qid, s.qid) AS qid,
               COALESCE(d.cand, s.cand) AS cand,
               COALESCE(1000000 // ({RRF_K} + d.rnk), 0)
                   + COALESCE(1000000 // ({RRF_K} + s.rnk), 0) AS rrf_micro,
               COALESCE(d.rnk, -1) AS rank_dense,
               COALESCE(s.rnk, -1) AS rank_sparse
        FROM dense d
        FULL OUTER JOIN sparse s ON s.qid = d.qid AND s.cand = d.cand
    )
    SELECT qid, cand, CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(rank_dense AS BIGINT) AS rank_dense,
           CAST(rank_sparse AS BIGINT) AS rank_sparse,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY rrf_micro DESC, cand)
                   AS fused_rank
        FROM fused
    ) z
    WHERE fused_rank <= {RRF_TOP}
    ORDER BY qid, fused_rank
    """,
)
def llm_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion (SURVEY.md §2.12): fuse the DENSE ranker
    (exact cosine over embeddings — the hash-verified similarity
    discipline) with the SPARSE ranker (5-gram shingle overlap — the
    BM25 stand-in whose overlap counts are exact integers) via
    RRF(d) = Σᵣ 1/(60 + rankᵣ(d)), the Cormack et al. combiner that
    hybrid RAG stacks ship because it needs NO score calibration —
    only ranks — and beats either leg alone. Top-{RRF_TOP} fused per
    hash-sampled query, with both leg ranks alongside (−1 = absent
    from that leg; absents contribute zero, the stated convention).

    RRF terms fold as floor-micro 1e6//(60+rank) — identical integer
    divisions on both engines, summed; candidates surfaced by only
    one modality are the fusion's whole point and appear with one
    −1 leg.

    Scale: the dense leg scores |queries|×|candidates| (queries are
    the hash sample — fusion is a RERANKER, it never brute-forces
    the corpus); the sparse leg is a digest join bounded by true
    overlap; the fuse is a skinny per-query full-outer join. At
    100 TB both legs arrive as the top-k relations of their ANN /
    inverted-index services and ONLY this fuse runs here.
    """
    e = load(spark, sf_dir, "embeddings")
    qhash = md5_long(F.concat(F.lit("rrfq_"), F.col("vec_id").cast("string")))
    # embeddings is one parquet file → one input partition; spread the
    # query side so the broadcast cross-score runs on all cores
    # (single-file trap, BASELINE.md).
    queries = (
        e.where(qhash % RRF_QUERY_MOD == 0)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
    )
    queries = spread(queries, "qid")
    cands = e.select(F.col("vec_id").alias("cand"), F.col("embedding").alias("c_emb"))
    sim = F.round(
        dot(F.col("q_emb"), F.col("c_emb"))
        / (norm(F.col("q_emb")) * norm(F.col("c_emb"))),
        6,
    )
    w_d = Window.partitionBy("qid").orderBy(F.desc("sim"), "cand")
    dense = (
        queries.crossJoin(F.broadcast(cands))
        .where(F.col("cand") != F.col("qid"))
        .select("qid", "cand", sim.alias("sim"))
        .select("qid", "cand", F.row_number().over(w_d).alias("rnk"))
    )
    d = load(spark, sf_dir, "documents")
    shingles = (
        word_ngrams(spread(d, "doc_id"), RRF_NGRAM, "doc_id")
        .select("doc_id", F.md5("ngram").alias("digest"))
        .distinct()
    )
    q_sh = queries.select("qid").join(
        shingles.select(F.col("doc_id").alias("qid"), "digest"), "qid"
    )
    sparse_pairs = (
        q_sh.join(
            shingles.select(F.col("doc_id").alias("cand"), "digest"), "digest"
        )
        .where(F.col("cand") != F.col("qid"))
        .groupBy("qid", "cand")
        .agg(F.count("*").alias("shared"))
    )
    w_s = Window.partitionBy("qid").orderBy(F.desc("shared"), "cand")
    sparse = sparse_pairs.select(
        "qid", "cand", F.row_number().over(w_s).alias("s_rnk")
    )
    fused = (
        dense.join(sparse, ["qid", "cand"], "full_outer")
        .select(
            "qid",
            "cand",
            (
                F.coalesce(F.expr(f"1000000 DIV ({RRF_K} + rnk)"), F.lit(0))
                + F.coalesce(F.expr(f"1000000 DIV ({RRF_K} + s_rnk)"), F.lit(0))
            ).alias("rrf_micro"),
            F.coalesce("rnk", F.lit(-1)).cast("long").alias("rank_dense"),
            F.coalesce("s_rnk", F.lit(-1)).cast("long").alias("rank_sparse"),
        )
    )
    w_f = Window.partitionBy("qid").orderBy(F.desc("rrf_micro"), "cand")
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f))
        .where(F.col("fused_rank") <= RRF_TOP)
        .select(
            "qid",
            "cand",
            F.col("rrf_micro").cast("long").alias("rrf_micro"),
            "rank_dense",
            "rank_sparse",
            F.col("fused_rank").cast("long").alias("fused_rank"),
        )
        .orderBy("qid", "fused_rank")
    )


@register(
    "events_slo_error_budget",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS errors
        FROM events GROUP BY date_trunc('day', ts)
    ),
    ledger AS (
        SELECT d, n, errors,
               CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
               CAST(SUM(errors) OVER w AS BIGINT) AS cum_errors
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, n, errors,
           CAST((cum_n * {1_000_000 - SLO_PPM}) // 1000000
                AS BIGINT) AS budget_total,
           cum_errors AS budget_spent,
           CAST((cum_n * {1_000_000 - SLO_PPM}) // 1000000
                - cum_errors AS BIGINT) AS budget_remaining,
           cum_errors > (cum_n * {1_000_000 - SLO_PPM}) // 1000000
               AS budget_exhausted
    FROM ledger
    ORDER BY day
    """,
)
def events_slo_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn (SURVEY.md §2.4): a {SLO_PPM / 10_000}%
    success objective grants (1−SLO)·traffic failures; the ledger
    tracks, per day, cumulative traffic, cumulative errors, the
    budget those cumulative volumes grant, the spend, and the
    exhausted flag — the SRE-book burn table that decides whether a
    team ships features or reliability this week. The budget is
    computed from CUMULATIVE traffic (the rolling-window convention),
    so quiet days grant little and the flag cannot be gamed by a
    traffic dip.

    Exactness: integer counts; the budget is one floor division of
    exact integers; the flag is an integer comparison.

    Scale: one daily conditional count + a running window over the
    calendar-bounded series. Burn ledgers run hourly in production;
    this is why they can.
    """
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("errors"),
        )
    )
    ledger = grid_cumsum(
        daily,
        ["d"],
        [("cum_n", "n"), ("cum_errors", "errors")],
        keep=["d", "n", "errors"],
    )
    ppm_fail = 1_000_000 - SLO_PPM
    return ledger.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        "errors",
        F.expr(f"CAST((cum_n * {ppm_fail}) DIV 1000000 AS BIGINT)").alias(
            "budget_total"
        ),
        F.col("cum_errors").cast("long").alias("budget_spent"),
        F.expr(
            f"CAST((cum_n * {ppm_fail}) DIV 1000000 - cum_errors AS BIGINT)"
        ).alias("budget_remaining"),
        F.expr(f"cum_errors > (cum_n * {ppm_fail}) DIV 1000000").alias(
            "budget_exhausted"
        ),
    ).orderBy("day")
