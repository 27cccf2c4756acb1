"""Round-3 extension pack #30: exact Spearman rank correlation and
chi-square keyness (distinctive-term extraction).

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — Spearman's rank correlation with average-rank tie handling,
and chi-square keyness for corpus-distinctive terms (the log-likelihood/
chi² keyword-extraction family of corpus linguistics, Dunning 1993
lineage) — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-3 standard): Spearman runs entirely in
DOUBLED average ranks (Σ rank2 = n(n+1) exactly, so the mean is the
integer n+1; covariance and variances are exact BIGINTs; ρ² folds as a
two-step integer division that never leaves int64 range — cov2² alone
would overflow at sf0.1). Keyness χ² is ONE double expression mirrored
text-for-text on both engines over exact BIGINT contingency counts
(int→double conversions exact below 2^53; identical IEEE op order ⇒
identical bits — the agg_two_proportion_ztest precedent).

Scale posture (SURVEY.md §7.6): Spearman needs one per-user aggregate +
two bounded rank windows over the distinct-value grids; keyness is two
map-side-combinable groupBys (pair and margins) + a broadcast of the
bounded margin tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "agg_spearman_corr",
    oracle="""
    WITH u AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    gx AS (
        SELECT x, CAST(count(*) AS BIGINT) AS c,
               COALESCE(SUM(count(*)) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS before
        FROM u GROUP BY x
    ),
    gy AS (
        SELECT y, CAST(count(*) AS BIGINT) AS c,
               COALESCE(SUM(count(*)) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS before
        FROM u GROUP BY y
    ),
    ranked AS (
        SELECT u.user_id,
               2 * gx.before + gx.c + 1 AS rx2,
               2 * gy.before + gy.c + 1 AS ry2
        FROM u JOIN gx ON u.x = gx.x JOIN gy ON u.y = gy.y
    ),
    centered AS (
        SELECT rx2, ry2, count(*) OVER () + 1 AS mean2 FROM ranked
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM((rx2 - mean2) * (ry2 - mean2)) AS BIGINT) AS cov2,
               CAST(SUM((rx2 - mean2) * (rx2 - mean2)) AS BIGINT) AS varx2,
               CAST(SUM((ry2 - mean2) * (ry2 - mean2)) AS BIGINT) AS vary2
        FROM centered
    )
    SELECT n, cov2, varx2, vary2,
           CAST(CASE WHEN cov2 > 0 THEN 1 WHEN cov2 < 0 THEN -1 ELSE 0 END
                AS BIGINT) AS rho_sign,
           ((1000000 * cov2) // varx2) * cov2 // vary2 AS rho_sq_micro
    FROM m
    """,
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation (SURVEY.md §2.4) between each
    user's total activity and their purchase spend — the rank-based,
    outlier-robust companion to `agg_corr_covar`'s Pearson. Average
    ranks handle ties via the ×2-integral midrank discipline
    (rank2 = 2·before + c + 1 per tie group), under which Σ rank2 is
    EXACTLY n(n+1), the rank mean is the integer n+1, and the rank
    covariance/variances are exact BIGINTs.

    Exactness: ρ² folds as the two-step ((1e6·cov2) DIV varx2)·cov2 DIV
    vary2 — cov2² alone would cross int64 at sf0.1 (cov2 ≤ n³ ≈ 3.4e9,
    squared ≈ 1.2e19 > 2⁶³), while the interleaved form is bounded by
    ~2e6·cov2; the sign ships separately, so (sign, ρ²) determines ρ
    with zero floats anywhere.

    Scale: one per-user aggregate, two bucket-stitch midrank maps (r9:
    the spend-cents value grid grows with the user count, so its
    cumsum is bucketed — only the bucket GRID meets a single-task
    window), equi-joins back — no pair join, no entity-scale sort.
    """
    e = load(spark, sf_dir, "events")
    # r12 (guide §5): u feeds both midrank maps AND the ranked join base —
    # unshared, the per-user aggregate re-ran from the fact scan 5× (10
    # events scans, 25 jobs in the before-plan). One checkpoint of the
    # user aggregate (the same materialization agg_rfm_segmentation
    # makes) = one fact pass; `ranked` below is lazy-checkpointed so the
    # count job materializes it in passing for the moments pass.
    u = e.groupBy("user_id").agg(
        F.count("*").alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.expr("CAST(round(value * 100) AS BIGINT)"),
            ).otherwise(0)
        ).alias("y"),
    ).localCheckpoint(eager=True)

    # r9: the y (per-user spend cents) value grid is ENTITY-scale —
    # distinct totals grow with the user count — so the strictly-before
    # cumsum over each distinct-value histogram is the bucket-stitch
    # form: the only single-task window is the value-BUCKET grid
    # (x counts use bucket==value, the bounded small-int domain; y uses
    # 2^16-cents buckets), per-value work hash-partitioned by bucket.
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_cumsum,
    )

    def rank2(col: str, bits: int) -> DataFrame:
        return bucketed_global_cumsum(
            u.groupBy(col).agg(F.count("*").alias("c")),
            col,
            [],
            [("cum_prev", "c")],
            bucket_bits=bits,
            frame_end=-1,
        ).select(
            col,
            (2 * F.col("cum_prev") + F.col("c") + 1).alias(f"r{col}2"),
        )

    ranked = (
        u.join(rank2("x", 0), "x")
        .join(rank2("y", 16), "y")
        .select("user_id", "rx2", "ry2")
        .localCheckpoint(eager=False)
    )
    tot = ranked.agg(F.count("*").cast("long").alias("n_rows_total"))
    m = ranked.crossJoin(F.broadcast(tot)).select(
        "rx2",
        "ry2",
        (F.col("n_rows_total") + 1).alias("mean2"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("rx2") - F.col("mean2")) * (F.col("ry2") - F.col("mean2"))
        ).alias("cov2"),
        F.sum(
            (F.col("rx2") - F.col("mean2")) * (F.col("rx2") - F.col("mean2"))
        ).alias("varx2"),
        F.sum(
            (F.col("ry2") - F.col("mean2")) * (F.col("ry2") - F.col("mean2"))
        ).alias("vary2"),
    )
    return m.select(
        "n",
        "cov2",
        "varx2",
        "vary2",
        F.expr(
            "CAST(CASE WHEN cov2 > 0 THEN 1 WHEN cov2 < 0 THEN -1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("rho_sign"),
        F.expr("((1000000 * cov2) DIV varx2) * cov2 DIV vary2").alias(
            "rho_sq_micro"
        ),
    )


@register(
    "llm_keyness_chi2",
    oracle="""
    WITH grams AS (
        SELECT source,
               array_to_string(list_slice(toks, i, i + 1), ' ') AS g
        FROM (
            SELECT source, string_split(text, ' ') AS toks,
                   unnest(range(1, len(string_split(text, ' ')))) AS i
            FROM documents WHERE len(string_split(text, ' ')) >= 2
        ) x
    ),
    pair AS (
        SELECT source, g, CAST(count(*) AS BIGINT) AS a
        FROM grams GROUP BY source, g
    ),
    gm AS (SELECT g, CAST(count(*) AS BIGINT) AS g_tot FROM grams GROUP BY g),
    sm AS (
        SELECT source, CAST(count(*) AS BIGINT) AS s_tot
        FROM grams GROUP BY source
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM grams),
    cont AS (
        SELECT p.source, p.g, p.a,
               gm.g_tot - p.a AS b,
               sm.s_tot - p.a AS c,
               nn.n - gm.g_tot - sm.s_tot + p.a AS d,
               nn.n AS n
        FROM pair p JOIN gm USING (g) JOIN sm USING (source), nn
    ),
    scored AS (
        SELECT source, g, a,
               CAST(n AS DOUBLE)
               * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                  - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
               * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                  - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
               / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                  * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) AS chi2
        FROM cont
    ),
    top AS (
        SELECT source, g AS bigram, a AS n_occurrences, chi2,
               row_number() OVER (PARTITION BY source
                                  ORDER BY chi2 DESC, g) AS pos
        FROM scored
    )
    SELECT source, CAST(pos AS BIGINT) AS pos, bigram, n_occurrences, chi2
    FROM top WHERE pos <= 3 ORDER BY source, pos
    """,
)
def llm_keyness_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square keyness: the 3 most source-distinctive word bigrams
    per document source (SURVEY.md §2.12) — the corpus-linguistics
    keyword-extraction recipe: a 2×2 contingency (this bigram vs rest ×
    this source vs rest) scored by χ², ranked per source. The
    distinctive-vocabulary report run when auditing what makes one data
    source different from the mixture (beside `llm_tfidf`'s per-doc
    weighting and `llm_ngram_profile`'s global counts).

    Exactness: contingency counts are exact BIGINTs; χ² is ONE double
    expression mirrored text-for-text (exact int→double conversions,
    identical IEEE op order ⇒ bit-identical doubles — the ztest
    precedent); the cut is total-order deterministic (χ² DESC, bigram).

    Scale: two map-side-combinable groupBys (pair + margins); margins
    broadcast; ranking windows run per source over the bounded
    per-source vocabulary.
    """
    d = load(spark, sf_dir, "documents")
    grams = word_ngrams(d, 2, "source").withColumnRenamed("ngram", "g")
    pair = grams.groupBy("source", "g").agg(F.count("*").alias("a"))
    gm = grams.groupBy("g").agg(F.count("*").alias("g_tot"))
    sm = grams.groupBy("source").agg(F.count("*").alias("s_tot"))
    nn = grams.agg(F.count("*").alias("n"))
    cont = (
        pair.join(F.broadcast(gm), "g")
        .join(F.broadcast(sm), "source")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            "g",
            "a",
            (F.col("g_tot") - F.col("a")).alias("b"),
            (F.col("s_tot") - F.col("a")).alias("c"),
            (F.col("n") - F.col("g_tot") - F.col("s_tot") + F.col("a")).alias(
                "d"
            ),
            "n",
        )
    )
    chi2 = F.expr(
        "CAST(n AS DOUBLE)"
        " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
        "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
        " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
        "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
        " / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)"
        "    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))"
    )
    w = Window.partitionBy("source").orderBy(F.desc("chi2"), "g")
    top = cont.select(
        "source",
        "g",
        "a",
        chi2.alias("chi2"),
    ).select(
        "source",
        F.col("g").alias("bigram"),
        F.col("a").alias("n_occurrences"),
        "chi2",
        F.row_number().over(w).alias("pos"),
    )
    return (
        top.where(F.col("pos") <= 3)
        .select(
            "source",
            F.col("pos").cast("long").alias("pos"),
            "bigram",
            "n_occurrences",
            "chi2",
        )
        .orderBy("source", "pos")
    )
