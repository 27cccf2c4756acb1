"""Round-3 extension pack #33: economic price indices.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — Laspeyres/Paasche price indices (the CPI formulas) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): index numerators take
per-part integer floor divisions (E₁·Q₀ DIV Q₁ — documented floor
slack) before exact summation. Zero floats in the pack.

Scale posture (SURVEY.md §7.6): price indices reduce facts to one
(part, period) aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "agg_price_index",
    oracle="""
    WITH b AS (
        SELECT epoch_us(min(o_orderdate))
               + (epoch_us(max(o_orderdate)) - epoch_us(min(o_orderdate))) // 2
                   AS sp
        FROM orders
    ),
    f AS (
        SELECT l.l_partkey AS part,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS ext_cents,
               CAST(round(l.l_quantity) AS BIGINT) AS qty,
               epoch_us(o.o_orderdate) >= (SELECT sp FROM b) AS cur
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    per AS (
        SELECT part,
               CAST(SUM(CASE WHEN NOT cur THEN ext_cents ELSE 0 END)
                    AS BIGINT) AS e0,
               CAST(SUM(CASE WHEN NOT cur THEN qty ELSE 0 END) AS BIGINT)
                   AS q0,
               CAST(SUM(CASE WHEN cur THEN ext_cents ELSE 0 END) AS BIGINT)
                   AS e1,
               CAST(SUM(CASE WHEN cur THEN qty ELSE 0 END) AS BIGINT) AS q1
        FROM f GROUP BY part
        HAVING SUM(CASE WHEN NOT cur THEN qty ELSE 0 END) > 0
           AND SUM(CASE WHEN cur THEN qty ELSE 0 END) > 0
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_common_parts,
               CAST(SUM(e0) AS BIGINT) AS sum_e0,
               CAST(SUM(e1) AS BIGINT) AS sum_e1,
               CAST(SUM((e1 * q0) // q1) AS BIGINT) AS lasp_num,
               CAST(SUM((e0 * q1) // q0) AS BIGINT) AS paas_den
        FROM per
    )
    SELECT n_common_parts,
           CAST((1000000 * lasp_num) // sum_e0 AS BIGINT)
               AS laspeyres_micro,
           CAST((1000000 * sum_e1) // paas_den AS BIGINT) AS paasche_micro
    FROM s
    """,
)
def agg_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres and Paasche price indices between the two halves of
    the order timeline (SURVEY.md §2.4): quantity-weighted unit prices
    per part and period; Laspeyres weights price changes by BASE-period
    quantities (Σ p₁q₀ / Σ p₀q₀), Paasche by CURRENT-period quantities —
    the CPI formula pair, bracketing true price change from above and
    below. Only parts traded in both periods enter (same HAVING on both
    engines).

    Exactness: unit prices stay rational as E/Q; the cross terms take
    ONE per-part integer floor (E₁·Q₀ DIV Q₁), a documented sub-cent
    slack per part, then exact BIGINT summation and one final micro
    division — no float unit prices anywhere.

    Scale: one fact-sized (part, period) aggregate; the index algebra
    runs on the bounded per-part table.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    b = o.agg(
        F.expr(
            "unix_micros(min(o_orderdate))"
            " + (unix_micros(max(o_orderdate)) - unix_micros(min(o_orderdate)))"
            " DIV 2"
        ).alias("sp")
    )
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .crossJoin(F.broadcast(b))
        .select(
            F.col("l_partkey").alias("part"),
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias(
                "ext_cents"
            ),
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("qty"),
            (F.expr("unix_micros(o_orderdate)") >= F.col("sp")).alias("cur"),
        )
    )
    per = (
        f.groupBy("part")
        .agg(
            F.sum(F.when(~F.col("cur"), F.col("ext_cents")).otherwise(0)).alias(
                "e0"
            ),
            F.sum(F.when(~F.col("cur"), F.col("qty")).otherwise(0)).alias("q0"),
            F.sum(F.when(F.col("cur"), F.col("ext_cents")).otherwise(0)).alias(
                "e1"
            ),
            F.sum(F.when(F.col("cur"), F.col("qty")).otherwise(0)).alias("q1"),
        )
        .where((F.col("q0") > 0) & (F.col("q1") > 0))
    )
    s = per.agg(
        F.count("*").alias("n_common_parts"),
        F.sum("e0").alias("sum_e0"),
        F.sum("e1").alias("sum_e1"),
        F.sum(F.expr("(e1 * q0) DIV q1")).alias("lasp_num"),
        F.sum(F.expr("(e0 * q1) DIV q0")).alias("paas_den"),
    )
    return s.select(
        F.col("n_common_parts").cast("long").alias("n_common_parts"),
        F.expr("CAST((1000000 * lasp_num) DIV sum_e0 AS BIGINT)").alias(
            "laspeyres_micro"
        ),
        F.expr("CAST((1000000 * sum_e1) DIV paas_den AS BIGINT)").alias(
            "paasche_micro"
        ),
    )
