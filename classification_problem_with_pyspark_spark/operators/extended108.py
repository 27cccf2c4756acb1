"""Round-3 extension pack #108: embedding-norm quarantine and the
Hoover (Robin Hood) index.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — norm-based embedding quarantine (corrupted/degenerate
vectors betray themselves by norm long before cosine math sees them;
production vector pipelines fence norms with robust statistics at
ingest) and the Hoover index (half the summed absolute deviation of
shares from equality — the "share of mass you'd redistribute for
perfect equality", the simplest member of the inequality family) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): norms are quantized to
exact micro integers (ROUND-6 sqrt of the double fold, then ×1e6 —
the driver-verified cosine discipline), the median and MAD are
rank-convention order statistics on those integers, and fences are
integer comparisons; Hoover folds one exact integer cross-multiplied
sum with a truncating-division close.

Scale posture (SURVEY.md §7.6): quarantine is one narrow projection +
two rank windows; Hoover is a per-supplier aggregate + one fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

MAD_K = 4  # fence: median ± 4·MAD on micro norms


@register(
    "emb_norm_quarantine",
    oracle=f"""
    WITH norms AS (
        SELECT vec_id,
               CAST(round(ROUND(list_distance(
                   list_transform(embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(embedding, x -> CAST(0.0 AS DOUBLE))), 6)
                   * 1000000) AS BIGINT) AS norm_micro
        FROM embeddings
    ),
    ranked AS (
        SELECT vec_id, norm_micro,
               row_number() OVER (ORDER BY norm_micro, vec_id) AS rn,
               COUNT(*) OVER () AS n
        FROM norms
    ),
    med AS (
        SELECT CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN norm_micro END)
                    AS BIGINT) AS median_norm
        FROM ranked
    ),
    devs AS (
        SELECT r.vec_id, r.norm_micro,
               abs(r.norm_micro - m.median_norm) AS dev
        FROM ranked r, med m
    ),
    mad AS (
        SELECT CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS BIGINT)
                   AS mad_norm
        FROM (
            SELECT dev, row_number() OVER (ORDER BY dev, vec_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM devs
        ) z
    )
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_vectors,
        CAST(MAX(m.median_norm) AS BIGINT) AS median_norm_micro,
        CAST(MAX(d2.mad_norm) AS BIGINT) AS mad_norm_micro,
        CAST(SUM(CASE WHEN abs(v.norm_micro - m.median_norm)
                           > {MAD_K} * d2.mad_norm
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        CAST(MIN(v.norm_micro) AS BIGINT) AS min_norm_micro,
        CAST(MAX(v.norm_micro) AS BIGINT) AS max_norm_micro
    FROM norms v, med m, mad d2
    """,
)
def emb_norm_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm quarantine (SURVEY.md §2.12): fence every
    vector's Euclidean norm at median ± {MAD_K}·MAD and count the
    quarantined — the ingest gate that catches zeroed, duplicated-
    dimension, or wrong-scale vectors BEFORE they poison similarity
    math (a degenerate vector's cosine looks plausible; its norm
    never does). Robust statistics because corrupt vectors are
    exactly the outliers a mean/sd fence would let widen their own
    fence; the registry's rank conventions make median and MAD
    hash-exact on micro-quantized norms. (Empirical finding pinned:
    THIS corpus is unit-normalized — every norm is exactly 1.0, MAD
    is zero, and the fence is zero-width, so the first denormalized
    vector a regenerated corpus ships will trip it immediately.)

    Exactness: norms fold to ROUND-6 then quantize to micro integers
    (the cosine-key discipline); median/MAD are order statistics;
    the fence is an integer comparison.

    Scale: one narrow projection + two distinct-value-histogram
    cumsums — the ordered windows run over the micro-norm value GRID
    (post-groupBy), never the vector relation itself; at 100 TB the
    median/MAD come from a sketch and only the fence comparison
    stays exact, the standing tail discipline.
    """
    e = load(spark, sf_dir, "embeddings")
    norm_micro = F.expr(
        "CAST(round(ROUND("
        "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x), "
        "0.0D, (acc, y) -> acc + y)), 6) * 1000000) AS BIGINT)"
    )
    norms = e.select("vec_id", norm_micro.alias("norm_micro")).localCheckpoint(
        eager=True
    )
    tot = norms.agg(F.count("*").cast("long").alias("n"))
    # Exact lower-median at rank k = (n+1) DIV 2 via the DISTINCT-VALUE
    # histogram: groupBy shrinks the relation to |distinct micro-norms|
    # rows BEFORE any ordered window, so the cumsum runs over a value
    # grid, never the fact-sized relation — value-at-rank-k is the least
    # value whose cumulative count reaches k (vec_id tie-breaks in the
    # old full-relation rank were between rows of EQUAL value, so the
    # selected value is identical).
    med = (
        grid_cumsum(
            norms.groupBy("norm_micro").agg(F.count("*").alias("c")),
            ["norm_micro"],
            [("cum", "c")],
            keep=["norm_micro", "c"],
        )
        .crossJoin(F.broadcast(tot))
        .where(F.col("cum") >= F.expr("(n + 1) DIV 2"))
        .agg(F.min("norm_micro").cast("long").alias("median_norm"))
    )
    devs = norms.crossJoin(F.broadcast(med)).select(
        "vec_id",
        "norm_micro",
        F.abs(F.col("norm_micro") - F.col("median_norm")).alias("dev"),
    )
    mad = (
        grid_cumsum(
            devs.groupBy("dev").agg(F.count("*").alias("c")),
            ["dev"],
            [("cum", "c")],
            keep=["dev", "c"],
        )
        .crossJoin(F.broadcast(tot))
        .where(F.col("cum") >= F.expr("(n + 1) DIV 2"))
        .agg(F.min("dev").cast("long").alias("mad_norm"))
    )
    return (
        norms.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .agg(
            F.count("*").alias("n_vectors"),
            F.max("median_norm").cast("long").alias("median_norm_micro"),
            F.max("mad_norm").cast("long").alias("mad_norm_micro"),
            F.sum(
                F.when(
                    F.abs(F.col("norm_micro") - F.col("median_norm"))
                    > MAD_K * F.col("mad_norm"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_quarantined"),
            F.min("norm_micro").cast("long").alias("min_norm_micro"),
            F.max("norm_micro").cast("long").alias("max_norm_micro"),
        )
    )


@register(
    "agg_hoover_index",
    oracle="""
    WITH per AS (
        SELECT l_suppkey AS supp,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev) AS BIGINT) AS t
        FROM per
    )
    SELECT t.n AS n_suppliers, t.t AS total_cents,
           CAST(SUM(abs(p.rev * t.n - t.t)) AS BIGINT) AS abs_dev_scaled,
           CAST((1000000 * (SUM(abs(p.rev * t.n - t.t)) // (2 * t.n)))
                // t.t AS BIGINT) AS hoover_micro
    FROM per p, tot t
    GROUP BY t.n, t.t
    """,
)
def agg_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoover (Robin Hood) index (SURVEY.md §2.4): half the summed
    absolute deviation of supplier revenue shares from perfect
    equality — the fraction of total revenue that would have to move
    from above-average to below-average suppliers to equalize them,
    the most interpretable member of the inequality family (Gini
    integrates the Lorenz curve, HHI squares shares; Hoover is "how
    much would Robin Hood move"). Cleared of all fractions:
    Σ|revᵢ·n − T| / (2·n·T) in floor-micro — one exact integer fold.

    Exactness: integer cents; the close uses the two-step fold
    (1e6·(Σ|dev| DIV 2n)) DIV T — the single-expression form crosses
    2⁶³ near sf0.01 (Σ|dev| ≲ 2nT ≈ 4e13 here), the standing
    two-step discipline.

    Scale: per-supplier aggregate + one fold — census economics.
    """
    per = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("supp"))
        .agg(
            F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("rev")
        )
    )
    tot = per.agg(
        F.count("*").alias("n"), F.sum("rev").cast("long").alias("t")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .groupBy("n", "t")
        .agg(
            F.sum(F.abs(F.col("rev") * F.col("n") - F.col("t")))
            .cast("long")
            .alias("abs_dev_scaled")
        )
        .select(
            F.col("n").alias("n_suppliers"),
            F.col("t").alias("total_cents"),
            "abs_dev_scaled",
            F.expr(
                "CAST((1000000 * (abs_dev_scaled DIV (2 * n))) DIV t "
                "AS BIGINT)"
            ).alias("hoover_micro"),
        )
    )
