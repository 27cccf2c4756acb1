"""Round-4 extension pack #113: top covariant embedding-dimension pairs.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — dimension-covariance profiling (the off-diagonal mass of the
feature covariance matrix — what PCA/ZCA whitening removes; the top
|cov| pairs name the redundant coordinates) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-4 standard): covariances fold as the exact
BIGINT cross-moment n·Σxy − Σx·Σy in µ² units — division-free ranking
because every pair shares the same n.

Scale posture (SURVEY.md §7.6): covariance is one posexplode pair
expansion with map-side integer partials — dims², not rows², is the
fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


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
