"""Round-3 extension pack #103: retrieval MRR and two-way ANOVA with
interaction.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — mean reciprocal rank (MRR = mean 1/rank-of-first-relevant;
the question-answering retrieval metric alongside NDCG and recall) and
two-way fixed-effects ANOVA (main-effect and INTERACTION sums of
squares over a factorial design — Fisher's decomposition; the
interaction term is the formal answer to "does the effect differ by
segment") — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-3 standard): relevance is
overlap-defined (the candidate sharing the most 5-gram digests, ties
by id — exact set algebra), the retriever is the exact-cosine rank,
and reciprocal ranks fold floor-micro per query with a floor-mean
close; ANOVA cell statistics are exact integer (n, Σ, in deci units)
per (weekend × type) cell, and every SS folds from cell means in
order-pinned double arithmetic with ROUND-6 closes.

Scale posture (SURVEY.md §7.6): MRR reuses the hash-sampled query
discipline (a reranker metric, never a corpus brute force); ANOVA is
one conditional-moment pass to ≤10 cells + bounded folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.functions.vector import dot, norm
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

MRR_QUERY_MOD = 25
MRR_NGRAM = 5


@register(
    "llm_retrieval_mrr",
    oracle=f"""
    WITH queries AS (
        SELECT vec_id AS qid FROM embeddings
        WHERE CAST(('0x' || substr(md5('rrfq_' || CAST(vec_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % {MRR_QUERY_MOD} = 0
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    shingles AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(ws[i:i+{MRR_NGRAM - 1}], ' ')) AS digest
        FROM toks,
             LATERAL (SELECT unnest(range(1, len(ws) - {MRR_NGRAM - 1} + 1)) AS i)
        WHERE len(ws) >= {MRR_NGRAM}
    ),
    relevant AS (  -- ground truth: the max-overlap candidate per query
        SELECT qid, cand FROM (
            SELECT q.qid, b.doc_id AS cand,
                   row_number() OVER (PARTITION BY q.qid
                       ORDER BY COUNT(*) DESC, b.doc_id) AS rk
            FROM queries q
            JOIN shingles a ON a.doc_id = q.qid
            JOIN shingles b ON b.digest = a.digest AND b.doc_id <> q.qid
            GROUP BY q.qid, b.doc_id
        ) z WHERE rk = 1
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
    )
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_queries,
        CAST(SUM(CASE WHEN d.rnk = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_rank1,
        CAST(SUM(CASE WHEN d.rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_top10,
        CAST(MAX(d.rnk) AS BIGINT) AS worst_rank,
        CAST(SUM(1000000 // d.rnk) // COUNT(*) AS BIGINT) AS mrr_micro
    FROM relevant r
    JOIN dense d ON d.qid = r.qid AND d.cand = r.cand
    """,
)
def llm_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval MRR (SURVEY.md §2.12): for each hash-sampled query,
    the ground-truth relevant item is its max-shingle-overlap
    neighbor (exact set algebra, ties by id) and the system under
    test is the exact-cosine dense retriever; MRR = floor-mean of
    floor-micro reciprocal ranks of the relevant item, with hit@1,
    hit@10, and the worst rank alongside. The QA-retrieval headline
    metric, measured here as the CROSS-MODAL agreement between the
    registry's sparse truth and dense ranker — high MRR means the
    embeddings encode lexical overlap, low means the two modalities
    genuinely disagree — and on THIS fixture they are independent
    (MRR ≈ 0.004, zero top-10 hits; hash-pinned), which is precisely
    the regime where RRF fusion earns its keep; the three keys
    triangulate.

    Exactness: integer overlap counts, ROUND-6 cosine ranks under
    total orders, floor-micro reciprocal ranks, floor mean.

    Scale: queries are the hash sample; both legs are the RRF key's
    relations — the metric costs one extra join over rankings that
    already exist.
    """
    e = load(spark, sf_dir, "embeddings")
    qhash = md5_long(F.concat(F.lit("rrfq_"), F.col("vec_id").cast("string")))
    # single-file trap (BASELINE.md): spread the query side before the
    # broadcast cross-score and documents before the shingle explode
    queries = (
        e.where(qhash % MRR_QUERY_MOD == 0)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
    )
    queries = spread(queries, "qid")
    d = load(spark, sf_dir, "documents")
    shingles = (
        word_ngrams(spread(d, "doc_id"), MRR_NGRAM, "doc_id")
        .select("doc_id", F.md5("ngram").alias("digest"))
        .distinct()
    )
    q_sh = queries.select("qid").join(
        shingles.select(F.col("doc_id").alias("qid"), "digest"), "qid"
    )
    w_rel = Window.partitionBy("qid").orderBy(F.desc("overlap"), "cand")
    relevant = (
        q_sh.join(shingles.select(F.col("doc_id").alias("cand"), "digest"), "digest")
        .where(F.col("cand") != F.col("qid"))
        .groupBy("qid", "cand")
        .agg(F.count("*").alias("overlap"))
        .withColumn("rk", F.row_number().over(w_rel))
        .where(F.col("rk") == 1)
        .select("qid", "cand")
    )
    cands = e.select(
        F.col("vec_id").alias("cand"), F.col("embedding").alias("c_emb")
    )
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
    return relevant.join(dense, ["qid", "cand"]).agg(
        F.count("*").alias("n_queries"),
        F.sum(F.when(F.col("rnk") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_rank1"),
        F.sum(F.when(F.col("rnk") <= 10, 1).otherwise(0))
        .cast("long")
        .alias("n_top10"),
        F.max("rnk").cast("long").alias("worst_rank"),
        F.expr("CAST(SUM(1000000 DIV rnk) DIV COUNT(*) AS BIGINT)").alias(
            "mrr_micro"
        ),
    )


@register(
    "agg_two_way_anova",
    oracle="""
    WITH obs AS (
        SELECT CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                    THEN 1 ELSE 0 END AS wknd,
               event_type AS typ,
               CAST(round(value * 10) AS BIGINT) AS deci
        FROM events
    ),
    cells AS (
        SELECT wknd, typ,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(deci) AS BIGINT) AS s
        FROM obs GROUP BY wknd, typ
    ),
    margins AS (
        SELECT
            (SELECT SUM(s ORDER BY wknd, typ) FROM cells) AS gs,
            (SELECT SUM(n ORDER BY wknd, typ) FROM cells) AS gn
    ),
    ss AS (
        SELECT
            -- between-cells SS (the model SS with interaction)
            (SELECT SUM(CAST(s AS DOUBLE) * s / n ORDER BY wknd, typ)
             FROM cells)
                - CAST(m.gs AS DOUBLE) * m.gs / m.gn AS ss_cells,
            -- weekend main effect
            (SELECT SUM(CAST(ws AS DOUBLE) * ws / wn ORDER BY wknd)
             FROM (SELECT wknd, SUM(s) AS ws, SUM(n) AS wn FROM cells
                   GROUP BY wknd) z)
                - CAST(m.gs AS DOUBLE) * m.gs / m.gn AS ss_wknd,
            -- type main effect
            (SELECT SUM(CAST(ts2 AS DOUBLE) * ts2 / tn ORDER BY typ)
             FROM (SELECT typ, SUM(s) AS ts2, SUM(n) AS tn FROM cells
                   GROUP BY typ) z)
                - CAST(m.gs AS DOUBLE) * m.gs / m.gn AS ss_typ
        FROM margins m
    )
    SELECT ROUND(ss_cells, 4) AS ss_cells,
           ROUND(ss_wknd, 4) AS ss_weekend,
           ROUND(ss_typ, 4) AS ss_type,
           ROUND(ss_cells - ss_wknd - ss_typ, 4) AS ss_interaction
    FROM ss
    """,
)
def agg_two_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA (SURVEY.md §2.4): the factorial decomposition of
    value (deci units) over weekend × event type — between-cells SS,
    the two main-effect SS, and the INTERACTION SS as their
    difference (Fisher's partition for the balanced-enough case; the
    interaction term is the formal version of the question the
    Simpson audit screens informally: does the weekend effect differ
    by type?). Complements `agg_anova_f` (one-way) with the factorial
    design every segmented experiment actually is.

    Exactness: exact integer (n, Σ) per cell; every SS folds cell
    aggregates in order-pinned double arithmetic (DuckDB ordered
    aggregates / deterministic bounded folds), ROUND-4 closes
    (SS magnitudes are ~1e9 deci² — ROUND-6 would exceed double's
    exact-decimal range; stated).

    Scale: one conditional-moment pass to ≤10 cells + bounded folds.
    """
    obs = load(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wknd"),
        F.col("event_type").alias("typ"),
        F.expr("CAST(round(value * 10) AS BIGINT)").alias("deci"),
    )
    cells = obs.groupBy("wknd", "typ").agg(
        F.count("*").alias("n"), F.sum("deci").cast("long").alias("s")
    ).localCheckpoint(eager=True)

    def fold(df, keys, num="s", den="n"):
        return df.agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct(*keys, num, den))),
                F.lit(0.0),
                lambda acc, z: acc
                + z[num].cast("double") * z[num] / z[den],
            ).alias("t")
        )

    g = cells.agg(
        F.sum("s").cast("long").alias("gs"), F.sum("n").cast("long").alias("gn")
    )
    cells_t = fold(cells, ["wknd", "typ"])
    w_marg = cells.groupBy("wknd").agg(
        F.sum("s").cast("long").alias("s"), F.sum("n").cast("long").alias("n")
    )
    t_marg = cells.groupBy("typ").agg(
        F.sum("s").cast("long").alias("s"), F.sum("n").cast("long").alias("n")
    )
    w_t = fold(w_marg, ["wknd"])
    t_t = fold(t_marg, ["typ"])
    base = (
        g.crossJoin(F.broadcast(cells_t.withColumnRenamed("t", "t_cells")))
        .crossJoin(F.broadcast(w_t.withColumnRenamed("t", "t_wknd")))
        .crossJoin(F.broadcast(t_t.withColumnRenamed("t", "t_typ")))
    )
    cm = F.col("gs").cast("double") * F.col("gs") / F.col("gn")
    return base.select(
        F.round(F.col("t_cells") - cm, 4).alias("ss_cells"),
        F.round(F.col("t_wknd") - cm, 4).alias("ss_weekend"),
        F.round(F.col("t_typ") - cm, 4).alias("ss_type"),
        F.round(
            (F.col("t_cells") - cm)
            - (F.col("t_wknd") - cm)
            - (F.col("t_typ") - cm),
            4,
        ).alias("ss_interaction"),
    )
