"""Round-3 extension pack #92: column-order-drift CSV ingestion and
month-to-date pacing.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — header-driven CSV assembly across shards whose COLUMN
ORDER drifts (an upstream team reorders columns in a later export;
schema-by-position readers silently transpose fields, the classic
multi-shard corruption) and month-to-date pacing (MTD actuals vs the
day-proportional share of a monthly target — the revenue-ops tile
every sales dashboard leads with) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): two staged shards carry
the SAME rows with OPPOSITE column orders; assembly reads each shard
under its own header and unions BY NAME, and the oracle restates the
rows from the dim — a positional union would transpose key and name
and break the hash (the test demonstrates the naive failure
directly). Pacing folds exact integer cents and day counts.

Scale posture (SURVEY.md §7.6): per-shard header resolution is the
schema-on-read contract (file listing → per-header read groups →
unionByName); pacing is one daily aggregate + a running window.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum, grid_rank
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import bounded_collect, load, stage_dir

PACE_TARGET_CENTS = 700_000_000  # the monthly revenue target


@register(
    "source_csv_column_order_drift",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS nation_key,
           n_name AS name,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM nation, (SELECT 1 UNION ALL SELECT 2) dup(v)
    GROUP BY n_nationkey, n_name
    ORDER BY nation_key
    """,
)
def source_csv_column_order_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-order drift (SURVEY.md §2.1): shard A exports
    (nation_key, name); shard B — a later export from a reordered
    upstream — ships the SAME rows as (name, nation_key). Assembly
    reads each shard under ITS OWN header and unions BY NAME, so both
    shards land correctly (n_copies = 2 per nation, hash-pinned);
    reading the directory in one pass with a fixed positional schema
    would transpose shard B's fields — ids become names — which the
    companion test demonstrates on the naive read. Schema-by-NAME at
    every shard boundary is the pinned discipline; Parquet gives it
    for free, CSV only gives it to readers that ask.

    Exactness: the oracle restates each row exactly twice.

    Scale: file listing → group by header fingerprint → one read per
    header group → unionByName: O(#header-variants) reads, not
    O(#files), and no shard can silently transpose.
    """
    stage = stage_dir("csv_col_drift")
    rows = sorted(
        (r.n_nationkey, r.n_name)
        for r in bounded_collect(
            load(spark, sf_dir, "nation"), max_rows=25, what="nation dim"
        )
    )
    with open(os.path.join(stage, "shard-a.csv"), "w") as f:
        f.write("nation_key,name\n")
        for k, n in rows:
            f.write(f"{k},{n}\n")
    with open(os.path.join(stage, "shard-b.csv"), "w") as f:
        f.write("name,nation_key\n")  # the reordered later export
        for k, n in rows:
            f.write(f"{n},{k}\n")
    read = spark.read.option("header", "true")
    a = read.csv(os.path.join(stage, "shard-a.csv"))
    b = read.csv(os.path.join(stage, "shard-b.csv"))
    assembled = a.unionByName(b)  # by NAME — the whole point
    return (
        assembled.select(
            F.col("nation_key").cast("long").alias("nation_key"), "name"
        )
        .groupBy("nation_key", "name")
        .agg(F.count("*").alias("n_copies"))
        .orderBy("nation_key")
    )


@register(
    "window_mtd_pacing",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY date_trunc('day', ts)
    ),
    span AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily
    ),
    paced AS (
        SELECT d,
               row_number() OVER (ORDER BY d) AS day_no,
               CAST(SUM(cents) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS mtd_cents
        FROM daily
    )
    SELECT strftime(p.d, '%Y-%m-%d') AS day,
           CAST(p.day_no AS BIGINT) AS day_no,
           p.mtd_cents,
           CAST(({PACE_TARGET_CENTS} * p.day_no) // s.n_days AS BIGINT)
               AS pace_target_cents,
           CAST((1000000 * p.mtd_cents)
                // (({PACE_TARGET_CENTS} * p.day_no) // s.n_days)
                AS BIGINT) AS attainment_micro,
           p.mtd_cents >= ({PACE_TARGET_CENTS} * p.day_no) // s.n_days
               AS on_pace
    FROM paced p, span s
    ORDER BY day
    """,
)
def window_mtd_pacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-to-date pacing (SURVEY.md §2.5): cumulative revenue per
    day against the day-proportional share of the monthly target
    (target · day/days-in-period) — the attainment tile every revenue
    dashboard leads with, where "on pace" is the binary the room
    actually reads. The linear pace line is the stated convention
    (seasonality-adjusted pacing divides by a cumulative seasonal
    weight instead — `events_dow_seasonality_residual` holds the
    weights; the plan is identical).

    Exactness: integer cents; the pace line and attainment fold
    integer division; the flag is an integer comparison.

    Scale: one daily aggregate + one running window over the
    calendar-bounded series.
    """
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
            .cast("long")
            .alias("cents")
        )
    )
    span = daily.agg(F.count("*").alias("n_days"))
    paced = grid_rank(
        grid_cumsum(daily, ["d"], [("mtd_raw", "cents")], keep=["d"]),
        ["d"],
        "day_no",
    ).select("d", "day_no", F.col("mtd_raw").cast("long").alias("mtd_cents"))
    return (
        paced.crossJoin(F.broadcast(span))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("day_no").cast("long").alias("day_no"),
            "mtd_cents",
            F.expr(
                f"CAST((CAST({PACE_TARGET_CENTS} AS BIGINT) * day_no) DIV n_days AS BIGINT)"
            ).alias("pace_target_cents"),
            F.expr(
                f"CAST((1000000 * mtd_cents) "
                f"DIV ((CAST({PACE_TARGET_CENTS} AS BIGINT) * day_no) DIV n_days) AS BIGINT)"
            ).alias("attainment_micro"),
            F.expr(
                f"mtd_cents >= (CAST({PACE_TARGET_CENTS} AS BIGINT) * day_no) DIV n_days"
            ).alias("on_pace"),
        )
        .orderBy("day")
    )
