"""Round-3 extension pack #93: the Little's-law audit.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — Little's law auditing (L = λW over a window; computing BOTH
sides from the same event log exposes measurement bias at the window
edges — the queueing sanity check SRE capacity reviews run) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): Little's sides fold exact
integer second-sums: L̄ from the window-clipped occupancy integral, λW
from in-window arrivals times the mean FULL duration — their gap is the
edge-truncation bias, reported in micro.

Scale posture (SURVEY.md §7.6): the occupancy integral is interval
clipping + a sum (no sweep-line needed for a time-AVERAGE — the
integral is Σ clipped durations), all map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "events_littles_law_audit",
    oracle="""
    WITH bounds AS (
        SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT) + 86400 AS w_lo,
               CAST(floor(epoch(MAX(ts))) AS BIGINT) - 86400 AS w_hi
        FROM events
    ),
    iv AS (  -- the pack-45 activity intervals
        SELECT CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT)
                   + CAST(round(value * 100) AS BIGINT) % 3600 + 60 AS e
        FROM events
    ),
    sides AS (
        SELECT
            CAST(SUM(greatest(0, least(iv.e, b.w_hi) - greatest(iv.s, b.w_lo)))
                 AS BIGINT) AS occupancy_s,
            CAST(SUM(CASE WHEN iv.s BETWEEN b.w_lo AND b.w_hi
                          THEN 1 ELSE 0 END) AS BIGINT) AS arrivals,
            CAST(SUM(CASE WHEN iv.s BETWEEN b.w_lo AND b.w_hi
                          THEN iv.e - iv.s ELSE 0 END) AS BIGINT)
                AS arrival_duration_s,
            CAST(MAX(b.w_hi - b.w_lo) AS BIGINT) AS window_s
        FROM iv, bounds b
    )
    SELECT occupancy_s, arrivals, arrival_duration_s, window_s,
           CAST((1000000 * occupancy_s) // window_s AS BIGINT)
               AS l_avg_micro,
           CAST((1000000 * arrival_duration_s) // window_s AS BIGINT)
               AS lambda_w_micro,
           CAST((1000000 * occupancy_s) // window_s
                - (1000000 * arrival_duration_s) // window_s AS BIGINT)
               AS edge_bias_micro
    FROM sides
    """,
)
def events_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's-law audit (SURVEY.md §2.4): compute BOTH sides of
    L = λW from the same activity intervals (the pack-45 duration
    rule) over an interior window (one day trimmed from each edge) —
    the left side as the window-clipped occupancy integral divided by
    the window, the right as in-window arrivals times their mean FULL
    duration over the window. In steady state they agree; their gap
    is exactly the edge-truncation bias (intervals straddling the
    window boundaries count partially in L but fully — or not at
    all — in λW), which is the measurement error this audit exists
    to expose before anyone sizes a fleet from either number alone.

    Exactness: integer epoch seconds; interval clipping is
    greatest/least algebra; both sides fold floor-micro division by
    the same window.

    Scale: the time-AVERAGE of concurrency needs NO sweep line —
    ∫L dt = Σ clipped durations — so the whole audit is one scan
    with min/max bounds broadcast. The instantaneous-peak question
    is the sweep-line key (`events_peak_concurrency`); the average
    is this sum.
    """
    e = load(spark, sf_dir, "events")
    t = F.unix_timestamp("ts").cast("long")
    bounds = e.agg(
        (F.min(t) + 86400).alias("w_lo"),
        (F.max(t) - 86400).alias("w_hi"),
    )
    iv = e.select(
        t.alias("s"),
        (t + F.expr("CAST(round(value * 100) AS BIGINT) % 3600") + 60).alias("e"),
    )
    sides = iv.crossJoin(F.broadcast(bounds)).agg(
        F.sum(
            F.greatest(
                F.lit(0),
                F.least(F.col("e"), F.col("w_hi"))
                - F.greatest(F.col("s"), F.col("w_lo")),
            )
        )
        .cast("long")
        .alias("occupancy_s"),
        F.sum(
            F.when(F.col("s").between(F.col("w_lo"), F.col("w_hi")), 1).otherwise(0)
        )
        .cast("long")
        .alias("arrivals"),
        F.sum(
            F.when(
                F.col("s").between(F.col("w_lo"), F.col("w_hi")),
                F.col("e") - F.col("s"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("arrival_duration_s"),
        F.max(F.col("w_hi") - F.col("w_lo")).cast("long").alias("window_s"),
    )
    return sides.select(
        "occupancy_s",
        "arrivals",
        "arrival_duration_s",
        "window_s",
        F.expr("CAST((1000000 * occupancy_s) DIV window_s AS BIGINT)").alias(
            "l_avg_micro"
        ),
        F.expr(
            "CAST((1000000 * arrival_duration_s) DIV window_s AS BIGINT)"
        ).alias("lambda_w_micro"),
        F.expr(
            "CAST((1000000 * occupancy_s) DIV window_s "
            "- (1000000 * arrival_duration_s) DIV window_s AS BIGINT)"
        ).alias("edge_bias_micro"),
    )
