"""Round-4 extension pack #109: Lindley queue-backlog replay.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the Lindley recursion (W_k = max(0, W_{k-1} + X_k), the
waiting-time/backlog fold of queueing theory, whose prefix-sum solution
W_k = S_k − min(0, min_{j≤k} S_j) turns a sequential recurrence into two
window scans — Lindley 1952) — re-expressed on the public PySpark
DataFrame API over the driver's testdata.

Hash-parity discipline (round-4 standard): backlog folds entirely in
exact integers (work in value-micro units, drain as truncating integer
division of µs gaps — the negative-safe DIV semantics pinned in the
rounding-modes suite).

Scale posture (SURVEY.md §7.6): two growing-frame windows per user
partition — no shrinking frames, no cross-user state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

# queue drains 2000 value-micro per second between events: slow enough
# that event bursts accumulate visible backlog, fast enough that typical
# inter-event gaps fully drain it (both regimes exercised)
DRAIN_MICRO_PER_SEC = 2000


@register(
    "events_queue_lindley_backlog",
    oracle=f"""
    WITH seq AS (
        SELECT user_id,
               CAST(round(value * 1000000) AS BIGINT) AS work,
               epoch_us(ts) AS ts_us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    steps AS (
        SELECT user_id,
               work - CASE WHEN prev_us IS NULL THEN 0
                           ELSE ((ts_us - prev_us) * {DRAIN_MICRO_PER_SEC})
                                // 1000000 END AS x,
               ts_us
        FROM seq
    ),
    sums AS (
        SELECT user_id, ts_us, x,
               SUM(x) OVER (PARTITION BY user_id ORDER BY ts_us, x
                            ROWS UNBOUNDED PRECEDING) AS s
        FROM steps
    ),
    folded AS (
        SELECT user_id, s,
               least(CAST(0 AS BIGINT),
                     min(s) OVER (PARTITION BY user_id ORDER BY ts_us, x
                                  ROWS UNBOUNDED PRECEDING)) AS m
        FROM sums
    ),
    backlog AS (SELECT user_id, s - m AS w FROM folded)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(w) AS BIGINT) AS peak_backlog_micro,
           CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS busy_events,
           CAST(SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS idle_resets
    FROM backlog
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_queue_lindley_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queue-backlog replay via the Lindley recursion (SURVEY.md §2.9
    batch twin): each event enqueues its value (micro units) of work;
    capacity drains {DRAIN_MICRO_PER_SEC} micro/sec between events;
    backlog W_k = max(0, W_(k-1) + work_k − drain_k). The naive fold is
    sequential; the Lindley/prefix-sum identity W_k = S_k − min(0,
    min_(j≤k) S_j) makes it TWO growing-frame window scans — the same
    trick that turns reflected-at-zero processes (queue depth, token
    debt, inventory with lost sales) into distributed window plans.
    Per user: event count, peak backlog, busy-event and idle-reset
    counts — the saturation profile of a per-key rate limiter.

    Exactness: work folds at value-micro, drain is a truncating integer
    division of the exact µs gap; S and its running min are BIGINT
    sums; ties inside a user's (ts) order are broken by the x value in
    the window ORDER (ts collisions within a user do not occur in this
    fixture — asserted in tests — but the order is pinned anyway).

    Scale: two windows per user partition, both growing frames (the
    shrinking-frame trap from the skyline lesson does not apply); no
    global window, no iteration — backlog replay at any event volume.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(round(value * 1000000) AS BIGINT)").alias("work"),
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        (
            F.col("work")
            - F.coalesce(
                F.expr(
                    f"((unix_micros(ts) - lag(unix_micros(ts)) OVER "
                    f"(PARTITION BY user_id ORDER BY ts, event_id)) "
                    f"* {DRAIN_MICRO_PER_SEC}) DIV 1000000"
                ),
                F.lit(0).cast("long"),
            )
        ).alias("x"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sums = steps.select(
        "user_id", "ts_us", "x", F.sum("x").over(w_cum).alias("s")
    )
    folded = sums.select(
        "user_id",
        "s",
        F.least(F.lit(0).cast("long"), F.min("s").over(w_cum)).alias("m"),
    )
    backlog = folded.select("user_id", (F.col("s") - F.col("m")).alias("w"))
    return (
        backlog.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max("w").cast("long").alias("peak_backlog_micro"),
            F.sum(F.when(F.col("w") > 0, 1).otherwise(0))
            .cast("long")
            .alias("busy_events"),
            F.sum(F.when(F.col("w") == 0, 1).otherwise(0))
            .cast("long")
            .alias("idle_resets"),
        )
        .orderBy("user_id")
    )
