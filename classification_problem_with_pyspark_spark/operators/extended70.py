"""Round-3 extension pack #70: compressed-CSV codec round-trip and
Cohen's d effect size.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — gzip-compressed text ingestion (Spark's codec inference by
file extension; the operational catch is that gzip is NOT splittable,
so one .gz file = one task no matter its size) and Cohen's d (the
standardized mean difference over the pooled standard deviation —
Cohen 1988, the effect-size number that belongs next to every p-value
because significance without magnitude is noise at scale) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): the staged gzip CSV is a
deterministic render of order summaries (integer cents in the file —
money never rides a float through the codec); Cohen's d folds the
t-test discipline — exact integer moments engine-side, one double
closing expression, ROUND(·,6).

Scale posture (SURVEY.md §7.6): the gzip read is one task PER FILE
(stated, with the many-medium-files remedy — this key stages four
shards to show the parallel form); Cohen's d is one
map-side-combinable moment pass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, stage_dir

GZ_SHARDS = 4  # gzip is per-file parallel only — stage several shards


@register(
    "source_csv_gzip_roundtrip",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY status
    """,
)
def source_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-CSV ingestion (SURVEY.md §2.1): stage the orders projection
    as {GZ_SHARDS} gzip-compressed CSV shards (codec inferred from the
    .gz extension — no reader option needed) and aggregate from the
    compressed copies; the oracle restates from the base table, so a
    codec-layer corruption of any row breaks the hash. Money is
    written as integer cents INSIDE the file — the round-trip never
    lets a price ride a decimal string through the codec.

    The operational lesson is staged into the fixture: gzip is NOT
    splittable, so one .gz file = ONE task regardless of size — a
    100 GB single .gz parses on one core. The remedy is many medium
    files (hence {GZ_SHARDS} shards here) or a splittable codec
    (bzip2, or zstd on sequencefile/parquet); the docstring is the
    warning label, the shard count is the practice.

    Exactness: integer cents end to end.

    Scale: per-file parallelism = shard count; everything after the
    scan is one map-side-combinable aggregate. The shards are written
    by the EXECUTORS (`repartitionByRange(GZ_SHARDS, orderkey).write.csv`
    with the gzip codec — range keeps every shard non-empty so the file
    count is exactly GZ_SHARDS; round-5 rewrite per VERDICT r4 #2) — the
    old staging
    path collected the whole fact table to the driver to hand-write
    the gz files, a driver-OOM at any real scale and the package's
    only fact-sized collect. Distributed write keeps the staging
    memory bounded by one shard per task.
    """
    # a subpath: the default errorifexists write needs a path that does not exist
    stage = os.path.join(stage_dir("csv_gzip"), "orders")
    (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderstatus").alias("status"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .repartitionByRange(GZ_SHARDS, F.col("orderkey"))
        .write.option("header", "true")
        .option("compression", "gzip")
        .csv(stage)
    )
    back = (
        spark.read.option("header", "true")
        .schema("orderkey bigint, status string, cents bigint")
        .csv(stage)
    )
    return (
        back.groupBy("status")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("status")
    )


@register(
    "agg_effect_size_cohens_d",
    oracle="""
    WITH cents AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(c * c) AS BIGINT) AS s2
        FROM cents GROUP BY event_type
    )
    SELECT t.n AS n_treatment, c.n AS n_control,
           ROUND((CAST(t.s1 AS DOUBLE) / t.n - CAST(c.s1 AS DOUBLE) / c.n)
                 / sqrt((((CAST(t.s2 AS DOUBLE) - CAST(t.s1 AS DOUBLE) * t.s1 / t.n))
                         + ((CAST(c.s2 AS DOUBLE) - CAST(c.s1 AS DOUBLE) * c.s1 / c.n)))
                        / (t.n + c.n - 2)), 6) AS cohens_d,
           ROUND((CAST(t.s1 AS DOUBLE) / t.n - CAST(c.s1 AS DOUBLE) / c.n)
                 / 100.0, 6) AS mean_diff
    FROM (SELECT * FROM mom WHERE event_type = 'purchase') t
    CROSS JOIN (SELECT * FROM mom WHERE event_type = 'view') c
    """,
)
def agg_effect_size_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d (SURVEY.md §2.4): the standardized mean difference
    between the purchase and view value distributions over the POOLED
    standard deviation — the effect-size number that belongs next to
    `agg_ab_test_ttest`'s p-value, because at 100 TB everything is
    "significant" and only magnitude still means something (Cohen
    1988; d≈0.2 small / 0.5 medium / 0.8 large). Same cohort, same
    exact integer moments, deliberately the same discipline as the
    t-test key so the two always travel together.

    Exactness: integer (n, Σc, Σc²) engine-side; the closing pooled-SD
    expression is identical double math on both engines, ROUND(·,6).

    Scale: one map-side-combinable moment pass — free next to the
    test it contextualizes.
    """
    cents = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "view")
    ).select(
        "event_type", F.expr("CAST(round(value * 100) AS BIGINT)").alias("c")
    )
    mom = cents.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    t = mom.where(F.col("event_type") == "purchase").select(
        F.col("n").alias("tn"), F.col("s1").alias("ts1"), F.col("s2").alias("ts2")
    )
    c = mom.where(F.col("event_type") == "view").select(
        F.col("n").alias("cn"), F.col("s1").alias("cs1"), F.col("s2").alias("cs2")
    )
    return t.crossJoin(F.broadcast(c)).select(
        F.col("tn").alias("n_treatment"),
        F.col("cn").alias("n_control"),
        F.round(
            (
                F.col("ts1").cast("double") / F.col("tn")
                - F.col("cs1").cast("double") / F.col("cn")
            )
            / F.sqrt(
                (
                    (
                        F.col("ts2").cast("double")
                        - F.col("ts1").cast("double") * F.col("ts1") / F.col("tn")
                    )
                    + (
                        F.col("cs2").cast("double")
                        - F.col("cs1").cast("double") * F.col("cs1") / F.col("cn")
                    )
                )
                / (F.col("tn") + F.col("cn") - 2)
            ),
            6,
        ).alias("cohens_d"),
        F.round(
            (
                F.col("ts1").cast("double") / F.col("tn")
                - F.col("cs1").cast("double") / F.col("cn")
            )
            / 100.0,
            6,
        ).alias("mean_diff"),
    )
