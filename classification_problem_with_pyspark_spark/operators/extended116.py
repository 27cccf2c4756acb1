"""Round-4 extension pack #116: Simpson's diversity index.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — Simpson's diversity index
D = 1 − Σnᵢ(nᵢ−1)/(N(N−1)) (the probability two draws WITHOUT
replacement differ in type — ecology's standard, exact in rationals) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-4 standard): pure integer pair counting
with one DIV close.

Scale posture (SURVEY.md §7.6): a single groupBy-reduce over the
|nations|×|segments| table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "agg_simpson_diversity",
    oracle="""
    WITH seg AS (
        SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS ni
        FROM customer GROUP BY 1, 2
    )
    SELECT nationkey,
           CAST(SUM(ni) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS richness,
           CAST(SUM(ni * (ni - 1)) AS BIGINT) AS same_pairs2,
           CAST((1000000 * (SUM(ni) * (SUM(ni) - 1) - SUM(ni * (ni - 1))))
                // (SUM(ni) * (SUM(ni) - 1)) AS BIGINT) AS simpson_micro
    FROM seg
    GROUP BY nationkey
    ORDER BY nationkey
    """,
)
def agg_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's diversity index per nation (SURVEY.md §2.4):
    D = 1 − Σnᵢ(nᵢ−1)/(N(N−1)) over market-segment counts — the
    probability two customers drawn WITHOUT replacement belong to
    different segments, the ecology-standard diversity companion to
    the registry's entropy (Shannon) and Gini/HHI (concentration)
    keys; unlike Shannon it is EXACT in rationals, no logarithm.

    Exactness: pure integer pair counting; one truncating division.

    Scale: one groupBy to |nations|×|segments| cells with map-side
    partials, then a 25-row reduce.
    """
    c = load(spark, sf_dir, "customer")
    seg = (
        c.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
        )
        .groupBy("nationkey", "segment")
        .agg(F.count("*").cast("long").alias("ni"))
    )
    return (
        seg.groupBy("nationkey")
        .agg(
            F.sum("ni").cast("long").alias("n_customers"),
            F.count("*").cast("long").alias("richness"),
            F.sum(F.expr("ni * (ni - 1)")).cast("long").alias("same_pairs2"),
            F.expr(
                "CAST((1000000 * (SUM(ni) * (SUM(ni) - 1) - SUM(ni * (ni - 1))))"
                " DIV (SUM(ni) * (SUM(ni) - 1)) AS BIGINT)"
            ).alias("simpson_micro"),
        )
        .orderBy("nationkey")
    )
