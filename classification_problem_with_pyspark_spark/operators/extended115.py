"""Round-4 extension pack #115: month-arithmetic clamping semantics.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — calendar month arithmetic with end-of-month clamping
(Jan 31 + 1 month = Feb 29/28: the billing/settlement semantic every
SQL engine implements and every hand-rolled date loop gets wrong) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-4 standard): the date suite emits DATE
values only (no epoch math — the clamp itself is the contract, pinned
cross-engine: Spark add_months ≡ DuckDB + INTERVAL n MONTH, both
clamping).

Scale posture (SURVEY.md §7.6): the suite is a per-row projection over
the distinct-date spine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "scalar_month_arithmetic_suite",
    oracle="""
    WITH spine AS (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
    )
    SELECT d,
           CAST(d + INTERVAL 1 MONTH AS DATE) AS plus_1m,
           CAST(d - INTERVAL 1 MONTH AS DATE) AS minus_1m,
           CAST(d + INTERVAL 13 MONTH AS DATE) AS plus_13m,
           last_day(d) AS month_end,
           CAST(EXTRACT(day FROM last_day(d)) AS BIGINT) AS days_in_month,
           d = last_day(d) AS is_month_end,
           CAST(date_trunc('quarter', d) AS DATE) AS quarter_start,
           CAST(date_trunc('quarter', d) + INTERVAL 3 MONTH AS DATE)
               AS next_quarter_start,
           last_day(make_date(CAST(EXTRACT(year FROM d) AS INTEGER), 2, 1))
               AS feb_end_of_year,
           EXTRACT(day FROM last_day(make_date(
               CAST(EXTRACT(year FROM d) AS INTEGER), 2, 1))) = 29
               AS is_leap_year
    FROM spine
    ORDER BY d
    """,
)
def scalar_month_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-arithmetic clamping suite (SURVEY.md §2.8): over the
    distinct order-date spine, the calendar operations whose EDGE
    semantics differ from naive day math and must agree cross-engine:
    ±1/+13 months with end-of-month CLAMPING (Jan 31 + 1m = Feb 29/28 —
    Spark `add_months` and DuckDB `+ INTERVAL 1 MONTH` both clamp,
    pinned here), last_day / days-in-month, month-end detection,
    quarter start and next-quarter roll, and leap-year detection via
    February's last day — the billing-cycle / settlement-date algebra
    beside the registry's business-day and role-playing-calendar keys.

    Exactness: pure DATE outputs — the clamp IS the contract; no
    epoch arithmetic, no timezone surface.

    Scale: per-row projection over the bounded distinct-date spine
    (codegen; at 100 TB the spine is a broadcast calendar dim).
    """
    spine = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date").alias("d"))
        .distinct()
    )
    return spine.select(
        "d",
        F.add_months("d", 1).alias("plus_1m"),
        F.add_months("d", -1).alias("minus_1m"),
        F.add_months("d", 13).alias("plus_13m"),
        F.last_day("d").alias("month_end"),
        F.dayofmonth(F.last_day("d")).cast("long").alias("days_in_month"),
        (F.col("d") == F.last_day("d")).alias("is_month_end"),
        F.date_trunc("quarter", "d").cast("date").alias("quarter_start"),
        F.add_months(F.date_trunc("quarter", "d").cast("date"), 3).alias(
            "next_quarter_start"
        ),
        F.last_day(F.make_date(F.year("d"), F.lit(2), F.lit(1))).alias(
            "feb_end_of_year"
        ),
        (
            F.dayofmonth(F.last_day(F.make_date(F.year("d"), F.lit(2), F.lit(1))))
            == 29
        ).alias("is_leap_year"),
    ).orderBy("d")
