"""Round-3 extension pack #30: exact Spearman rank correlation.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — Spearman's rank correlation with average-rank tie handling —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): Spearman runs entirely in
DOUBLED average ranks (Σ rank2 = n(n+1) exactly, so the mean is the
integer n+1; covariance and variances are exact BIGINTs; ρ² folds as a
two-step integer division that never leaves int64 range — cov2² alone
would overflow at sf0.1).

Scale posture (SURVEY.md §7.6): Spearman needs one per-user aggregate +
two bounded rank windows over the distinct-value grids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
