"""Round-4 extension pack #114: DAU/MAU stickiness.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the DAU/MAU stickiness ratio (mean daily actives over
monthly actives — the "how many days a month does a user show up"
engagement ratio product teams track) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-4 standard): all integer counts and one
DIV.

Scale posture (SURVEY.md §7.6): two distinct-count aggregations per
calendar month.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "events_dau_mau_stickiness",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM events GROUP BY 1, 2
    ),
    monthly AS (
        SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
               CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM events GROUP BY 1
    )
    SELECT m.month,
           CAST(count(*) AS BIGINT) AS days_active,
           CAST(SUM(d.dau) AS BIGINT) AS dau_sum,
           CAST((1000000 * SUM(d.dau)) // count(*) AS BIGINT)
               AS avg_dau_micro,
           m.mau,
           CAST((1000000 * SUM(d.dau)) // (count(*) * m.mau) AS BIGINT)
               AS stickiness_micro
    FROM daily d JOIN monthly m ON m.month = d.month
    GROUP BY m.month, m.mau
    ORDER BY m.month
    """,
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month (SURVEY.md §2.4, events family):
    mean daily actives over monthly actives — the engagement ratio
    reading "what share of the month's users shows up on an average
    day" (1.0 = everyone daily; WhatsApp-class products run ~0.7,
    casual tools ~0.1). Reported with the raw day count, DAU sum, and
    MAU so the ratio is auditable; complements the rolling-DAU and
    growth-accounting keys which track the same signal across months.

    Exactness: distinct counts are exact; the ratio folds as ONE
    truncating division of exact integers.

    Scale: two distinct-count groupBys (day grain, month grain) — the
    day-grain distinct is the expensive half and is exactly the shape
    partial HLL sketches replace at 100 TB (`agg_hll_sketch_mergeable`
    is the shipped approximate twin).
    """
    e = load(spark, sf_dir, "events")
    daily = (
        e.select(
            F.date_trunc("month", "ts").cast("date").alias("month"),
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "user_id",
        )
        .groupBy("month", "day")
        .agg(F.countDistinct("user_id").alias("dau"))
    )
    monthly = (
        e.select(
            F.date_trunc("month", "ts").cast("date").alias("month"), "user_id"
        )
        .groupBy("month")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        daily.join(monthly, "month")
        .groupBy("month", "mau")
        .agg(
            F.count("*").alias("days_active"),
            F.sum("dau").cast("long").alias("dau_sum"),
            F.expr("CAST((1000000 * SUM(dau)) DIV count(*) AS BIGINT)").alias(
                "avg_dau_micro"
            ),
            F.expr(
                "CAST((1000000 * SUM(dau)) DIV (count(*) * mau) AS BIGINT)"
            ).alias("stickiness_micro"),
        )
        .select(
            "month",
            "days_active",
            "dau_sum",
            "avg_dau_micro",
            F.col("mau").cast("long").alias("mau"),
            "stickiness_micro",
        )
        .orderBy("month")
    )
