"""Round-3 extension pack #76: receivables aging.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the accounts-receivable aging report (open balances
bucketed 0-30/31-60/61-90/90+ days at an as-of date; the collections
worklist every finance close produces) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): aging buckets are integer
day arithmetic against a data-derived as-of date with boundary
conventions stated (day 30 is IN 0-30).

Scale posture (SURVEY.md §7.6): aging is a CASE-bucket count (one
pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "agg_receivables_aging",
    oracle="""
    WITH asof_t AS (
        SELECT MAX(CAST(o_orderdate AS DATE)) AS t FROM orders
    ),
    open_items AS (  -- 'O' = still-open orders: the receivables
        SELECT o_orderkey,
               datediff('day', CAST(o_orderdate AS DATE), a.t) AS age_d,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders, asof_t a
        WHERE o_orderstatus = 'O'
    ),
    bucketed AS (
        SELECT CASE WHEN age_d <= 30 THEN '0_current'
                    WHEN age_d <= 60 THEN '1_31_60'
                    WHEN age_d <= 90 THEN '2_61_90'
                    ELSE '3_over_90' END AS bucket,
               cents, age_d
        FROM open_items
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_invoices,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(MIN(age_d) AS BIGINT) AS min_age_d,
           CAST(MAX(age_d) AS BIGINT) AS max_age_d
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def agg_receivables_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Receivables aging (SURVEY.md §2.4): open ('O') orders bucketed
    by age at the as-of date (the data's latest order date) into the
    canonical 0-30 / 31-60 / 61-90 / 90+ day bands — the collections
    worklist and bad-debt-provision input every finance close
    produces. Boundary conventions are stated and hash-pinned: day 30
    belongs to current, day 61 to the 61-90 band (the off-by-one that
    moves real money between provision rates); min/max age per bucket
    ride along as the boundary evidence.

    Exactness: integer day arithmetic against a broadcast scalar
    as-of; integer cents.

    Scale: one CASE-bucket conditional count — the aging report costs
    one scan, and at 100 TB the status predicate prunes to the open
    partition first (the layout every AR table keeps for exactly
    this query).
    """
    o = load(spark, sf_dir, "orders")
    asof = o.agg(F.max(F.to_date("o_orderdate")).alias("t"))
    open_items = (
        o.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(asof))
        .select(
            F.datediff("t", F.to_date("o_orderdate")).alias("age_d"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
    )
    bucket = (
        F.when(F.col("age_d") <= 30, "0_current")
        .when(F.col("age_d") <= 60, "1_31_60")
        .when(F.col("age_d") <= 90, "2_61_90")
        .otherwise("3_over_90")
    )
    return (
        open_items.select(bucket.alias("bucket"), "cents", "age_d")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_invoices"),
            F.sum("cents").cast("long").alias("cents"),
            F.min("age_d").cast("long").alias("min_age_d"),
            F.max("age_d").cast("long").alias("max_age_d"),
        )
        .orderBy("bucket")
    )
