"""Round-3 extension pack #94: INT96 legacy-timestamp parquet
compatibility.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — INT96 timestamp compatibility (the legacy Hive/Impala
parquet timestamp encoding Spark still writes behind
`spark.sql.parquet.outputTimestampType=INT96`; readers must agree on its
instant semantics or timestamps shift) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the INT96 file is written by
Spark itself under the legacy option; the readback aggregates to day
counts restated by the oracle from the base table — an instant shift of
any row breaks the hash.

Scale posture (SURVEY.md §7.6): one write + one read of a bounded
projection.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, stage_dir


@register(
    "source_parquet_int96_timestamps",
    oracle="""
    SELECT strftime(CAST(date_trunc('day', o_orderdate) AS DATE), '%Y-%m')
               AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_ts,
           strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1996-01-01'
    GROUP BY 1
    ORDER BY month
    """,
)
def source_parquet_int96_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT96 legacy timestamps (SURVEY.md §2.1): write a bounded order
    slice to parquet under
    `spark.sql.parquet.outputTimestampType=INT96` — the Hive/Impala
    legacy encoding that predates the parquet TIMESTAMP logical type
    and that warehouse interop still trips over — read it back, and
    aggregate months with µs-formatted first/last instants; the
    oracle restates from the base table, so ANY instant shift through
    the 96-bit julian-day+nanos encode/decode breaks the hash. The
    session TZ is pinned UTC by the catalog loader, which is half the
    battle with INT96 (its instants are timezone-agnostic; readers
    that "adjust" them corrupt data — Spark's own int96Rebase* modes
    exist for exactly that history).

    Exactness: the round-trip is byte-semantic; outputs are counts
    and formatted instants.

    Scale: one bounded write + read; compat keys buy interop, not
    throughput.
    """
    stage = stage_dir("int96_ts")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1996-01-01"
    ).select("o_orderkey", "o_orderdate")
    saved = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        o.write.mode("overwrite").parquet(stage)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", saved)
    back = spark.read.parquet(stage)
    return (
        back.groupBy(
            F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_ts"
            ),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias(
                "last_ts"
            ),
        )
        .orderBy("month")
    )
