"""Event-stream operators, batch-first (SURVEY.md §2.9).

Strategy per the survey: every streaming aggregation is implemented as a
batch DataFrame query with exact oracle parity, and the IDENTICAL logic is
wrapped in Structured Streaming (streaming/wrappers.py) with an
availableNow trigger — rows-only checked, since watermark semantics are
not DuckDB-expressible.

Scale posture: tumbling/sliding windows shuffle by (window, key) with
map-side partial aggregation; sessionization is one shuffle by user_id +
one ordered pass (gaps-and-islands) — the same shapes Structured
Streaming's stateful operators use internally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_shift
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, stage_dir

TS_FMT = "yyyy-MM-dd HH:mm:ss"


@register(
    "stream_tumbling_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS event_cnt,
           ROUND(SUM(value), 2) AS value_sum,
           COUNT(DISTINCT user_id) AS unique_users
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch twin of the streaming op).

    Uses F.window — the exact operator the streaming wrapper reuses; its
    window.start for a 1h tumble equals date_trunc('hour') since windows
    align to the epoch.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("event_cnt"),
            F.round(F.sum("value"), 2).alias("value_sum"),
            F.countDistinct("user_id").alias("unique_users"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("hour_start"),
            "event_type",
            "event_cnt",
            "value_sum",
            "unique_users",
        )
    )


@register(
    "stream_sliding",
    oracle="""
    WITH offsets AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(k))
    SELECT strftime(
               -- floor() before the cast: DuckDB CAST(double AS BIGINT)
               -- ROUNDS, Spark's epoch truncates — boundary events diverge
               to_timestamp((CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 - k * 900)
                   AT TIME ZONE 'UTC',
               '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS event_cnt,
           ROUND(SUM(value), 2) AS value_sum
    FROM events CROSS JOIN offsets
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-hour span, 15-minute slide (SURVEY.md §2.9).

    Each event lands in exactly 4 windows (span/slide); Spark's F.window
    does the fan-out natively. The oracle replays the same fan-out with a
    4-row offsets cross join on epoch arithmetic.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("event_cnt"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_cnt",
            "value_sum",
        )
    )


@register(
    "stream_session_30m",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT *, SUM(is_new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_no
        FROM flagged
    )
    SELECT user_id,
           CAST(session_no AS BIGINT) AS session_no,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS event_cnt,
           ROUND(SUM(value), 2) AS value_sum
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def stream_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with 30-minute gap, batch twin (SURVEY.md §7.4
    hard part): gaps-and-islands — flag gap>30min, cumulative-sum the
    flags into session numbers, aggregate per session.

    The streaming wrapper uses F.session_window over the same input;
    this batch twin makes the semantics oracle-checkable.
    """
    e = load(spark, sf_dir, "events")
    worder = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # (ts, event_id) — ts alone is nondeterministic under timestamp ties:
    # the session number a tied row gets would depend on partition-internal
    # order (VERDICT r2 "What's wrong #3").
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_ts = F.lag("ts").over(worder)
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
    flagged = e.withColumn(
        "is_new_session",
        F.when(prev_ts.isNull() | (gap_s > 1800), 1).otherwise(0),
    )
    numbered = flagged.withColumn("session_no", F.sum("is_new_session").over(wcum))
    return (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.date_format(F.min("ts"), TS_FMT).alias("session_start"),
            F.date_format(F.max("ts"), TS_FMT).alias("session_end"),
            F.count("*").alias("event_cnt"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )


@register(
    "events_distinct_users_daily",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(DISTINCT user_id) AS unique_users,
           COUNT(*) AS event_cnt
    FROM events
    GROUP BY 1
    """,
)
def events_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users — the BASELINE.md reference query shape."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.countDistinct("user_id").alias("unique_users"),
            F.count("*").alias("event_cnt"),
        )
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "unique_users", "event_cnt")
    )


@register("stream_stateful_user_totals", oracle=None)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end arbitrary-state streaming (SURVEY.md §2.9 'arbitrary
    state' row): per-user running totals maintained in a custom GroupState
    via applyInPandasWithState, driven through readStream → availableNow →
    memory sink. Custom streaming state is not DuckDB-expressible →
    rows-only check; the per-user totals themselves are asserted against
    the batch groupBy in tests/test_streaming.py.
    """
    from classification_problem_with_pyspark_spark.streaming.wrappers import (
        run_available_now_df,
        stateful_user_totals_stream,
    )

    return run_available_now_df(
        spark, sf_dir, stateful_user_totals_stream, "stateful_user_totals", output_mode="update"
    )


@register("stream_watermark_demo", oracle=None)
def stream_watermark_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + late-data semantics, batch-computable surface
    (rows-only: watermark semantics are not DuckDB-expressible).

    Shows which per-hour aggregates a 10-minute watermark would have
    finalized vs still-open given the observed max event time — the same
    accounting Structured Streaming's state store does. The true streaming
    path (withWatermark + availableNow) lives in streaming/wrappers.py and
    is exercised by tests/test_streaming.py.
    """
    e = load(spark, sf_dir, "events")
    max_ts = e.agg(F.max("ts").alias("max_ts"))
    hourly = e.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count("*").alias("event_cnt")
    )
    return (
        hourly.crossJoin(F.broadcast(max_ts))
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("hour_start"),
            "event_cnt",
            (F.col("w.end") <= F.col("max_ts") - F.expr("INTERVAL 10 MINUTES")).alias(
                "finalized_by_watermark"
            ),
        )
    )


@register("stream_stream_join", oracle=None)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join (SURVEY.md §2.9 last row) as a
    first-class query: purchases attributed to same-user clicks within the
    preceding hour, both sides watermarked 30 min so join state is evicted
    instead of accumulating — driven readStream → availableNow → memory
    sink. Join-state semantics are not DuckDB-expressible → rows-only;
    equality with the batch range-join is asserted in
    tests/test_streaming.py.
    """
    from classification_problem_with_pyspark_spark.streaming.wrappers import (
        run_available_now_df,
        stream_stream_attribution_join,
    )

    return run_available_now_df(
        spark, sf_dir, stream_stream_attribution_join, "stream_stream_join", output_mode="append"
    )


@register(
    "events_resample_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ), spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
    ), hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               COUNT(*) AS cnt,
               ROUND(SUM(value), 2) AS value_sum
        FROM events GROUP BY 1
    )
    SELECT strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour_start,
           COALESCE(hourly.cnt, 0) AS event_cnt,
           COALESCE(hourly.value_sum, 0.0) AS value_sum,
           (hourly.h IS NULL) AS is_gap
    FROM spine s LEFT JOIN hourly ON s.h = hourly.h
    """,
)
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap filling: a dense hourly spine
    (sequence + explode from the observed min/max) left-joined to hourly
    aggregates; missing hours surface as zero rows flagged is_gap — the
    canonical prep for charting/forecasting over sparse event streams.

    The spine is tiny (one row per hour) → broadcast side of the join;
    the fact aggregation is the usual partial-agg shuffle. At 100 TB the
    only change is the spine bounds coming from metadata, not a scan.
    """
    e = load(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("eh")).agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("value_sum")
    )
    return (
        spine.join(hourly, spine.h == hourly.eh, "left")
        .select(
            F.date_format("h", TS_FMT).alias("hour_start"),
            F.coalesce("cnt", F.lit(0)).alias("event_cnt"),
            F.coalesce("value_sum", F.lit(0.0)).alias("value_sum"),
            F.col("eh").isNull().alias("is_gap"),
        )
    )


@register(
    "events_funnel",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM events GROUP BY user_id
    ), with_click AS (
        SELECT p.user_id, p.t_view,
               MIN(CASE WHEN e.event_type = 'click' AND e.ts >= p.t_view
                        THEN e.ts END) AS t_click
        FROM per_user p JOIN events e ON e.user_id = p.user_id
        GROUP BY p.user_id, p.t_view
    ), with_purchase AS (
        SELECT c.user_id, c.t_view, c.t_click,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= c.t_click
                        THEN e.ts END) AS t_purchase
        FROM with_click c JOIN events e ON e.user_id = c.user_id
        GROUP BY c.user_id, c.t_view, c.t_click
    )
    SELECT COUNT(t_view) AS viewed,
           COUNT(t_click) AS clicked_after_view,
           COUNT(t_purchase) AS purchased_after_click
    FROM with_purchase
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): per user, the first view,
    the first click at-or-after it, the first purchase at-or-after that;
    the report is how many users survive each stage.

    Three conditional-min aggregations, each a groupBy(user_id) — and
    because every stage groups on the SAME key, Catalyst reuses one
    shuffle partitioning for the whole cascade (no re-shuffle between
    stages). The final count is a single-row reduce.
    """
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    with_click = (
        e.join(per_user, "user_id")
        .groupBy("user_id", "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_click")
        )
    )
    with_purchase = (
        e.join(with_click, "user_id")
        .groupBy("user_id", "t_view", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase")
        )
    )
    return with_purchase.agg(
        F.count("t_view").alias("viewed"),
        F.count("t_click").alias("clicked_after_view"),
        F.count("t_purchase").alias("purchased_after_click"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day FROM events
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort,
           date_diff('day', f.cohort_day, a.active_day) AS day_offset,
           COUNT(*) AS active_users
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY f.cohort_day, day_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users bucketed by first-seen day; for each
    (cohort, day-offset) the count of users still active — the standard
    product-analytics retention triangle.

    Two groupBys on user_id feed a join on user_id: one shuffle
    partitioning serves all three. The output is cohort_days × offsets —
    tiny regardless of input scale.
    """
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    firsts = e.groupBy("user_id").agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    activity = e.select("user_id", F.date_trunc("day", "ts").alias("active_day")).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.datediff("active_day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count("*").alias("active_users"))
    )


@register("stream_static_join", oracle=None)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the live event stream joined to a
    batch-computed per-user segment profile (heavy/light by historical
    event count), aggregated per (segment, event_type) — driven
    readStream → availableNow → memory sink.

    Rows-only: stream-static join semantics are not DuckDB-expressible;
    tests/test_streaming.py asserts exact equality with the identical
    batch plan (counts + exact integer cents sums — countDistinct is
    unsupported in streaming aggregation). The static side broadcasts
    into each micro-batch (dim tables at 100 TB stay broadcast-sized
    after per-key reduction).
    """
    from classification_problem_with_pyspark_spark.streaming.wrappers import (
        run_available_now_df,
        stream_static_enrichment,
    )

    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("n_total"))
    # data-derived segment cut (scalar 1-row cross join): heavy = at or
    # above the mean events/user, valid at any scale factor
    cut = per_user.agg((F.sum("n_total") / F.count("*")).alias("cut"))
    profile = per_user.crossJoin(F.broadcast(cut)).select(
        "user_id",
        F.when(F.col("n_total") >= F.col("cut"), "heavy").otherwise("light").alias("segment"),
    )
    return run_available_now_df(
        spark,
        sf_dir,
        lambda s: stream_static_enrichment(s, profile),
        "stream_static_join",
        output_mode="complete",
    )


@register("stream_foreach_batch_sink", oracle=None)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregation delivered through a foreachBatch parquet
    sink: per-event-type totals written per micro-batch to a
    batch-id-keyed directory (idempotent overwrite = exactly-once replay
    semantics for non-transactional sinks), read back as the result.

    Rows-only; tests/test_streaming.py asserts the final batch equals the
    batch-mode aggregation. availableNow ⇒ a single batch here; on a live
    stream each trigger lands its own batch_id partition.
    """
    from classification_problem_with_pyspark_spark.streaming.wrappers import (
        run_foreach_batch_parquet,
    )

    def agg(stream: DataFrame) -> DataFrame:
        return stream.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )

    result = run_foreach_batch_parquet(
        spark, sf_dir, agg, stage_dir("fb"), "stream_foreach_batch_sink"
    )
    last = result.agg(F.max("batch_id").alias("b"))
    return result.join(F.broadcast(last), result.batch_id == last.b).select(
        "event_type", "n_events", "value_cents"
    )


@register(
    "events_downsample_m4",
    oracle="""
    WITH bucketed AS (
        SELECT event_type, value, ts, event_id,
               (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600 AS bstart
        FROM events
    ), ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY event_type, bstart
                                  ORDER BY ts, event_id) AS rn_first,
               ROW_NUMBER() OVER (PARTITION BY event_type, bstart
                                  ORDER BY ts DESC, event_id DESC) AS rn_last
        FROM bucketed
    )
    SELECT event_type,
           strftime(to_timestamp(bstart) AT TIME ZONE 'UTC',
                    '%Y-%m-%d %H:%M:%S') AS bucket_start,
           COUNT(*) AS n_events,
           MIN(value) AS vmin,
           MAX(value) AS vmax,
           MAX(CASE WHEN rn_first = 1 THEN value END) AS vfirst,
           MAX(CASE WHEN rn_last = 1 THEN value END) AS vlast
    FROM ranked
    GROUP BY event_type, bstart
    """,
)
def events_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (the standard error-free time-series reduction for
    visualization: min, max, first, last per pixel bucket — M4 preserves
    the exact rendered line at 1-pixel resolution, unlike naive avg
    sampling): 6-hour buckets per event_type over the 30-day stream.

    Shape: ONE shuffle on (event_type, bucket); first/last come from two
    opposed row_number windows over the same partitioning (no extra
    exchange — same sort, reversed), then roll up with conditional aggs.
    At 100 TB this is the query a dashboard layer runs per zoom level;
    bucket width scales with the zoom, the plan shape never changes.
    Tie-break on event_id makes first/last total-order deterministic.
    """
    e = load(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        "value",
        "ts",
        "event_id",
        (F.floor(F.unix_timestamp("ts") / 21600) * 21600).alias("bstart"),
    )
    wf = Window.partitionBy("event_type", "bstart").orderBy("ts", "event_id")
    wl = Window.partitionBy("event_type", "bstart").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = b.withColumn("rn_first", F.row_number().over(wf)).withColumn(
        "rn_last", F.row_number().over(wl)
    )
    return ranked.groupBy("event_type", "bstart").agg(
        F.count("*").alias("n_events"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.max(F.when(F.col("rn_first") == 1, F.col("value"))).alias("vfirst"),
        F.max(F.when(F.col("rn_last") == 1, F.col("value"))).alias("vlast"),
    ).select(
        "event_type",
        F.date_format(F.timestamp_seconds("bstart"), TS_FMT).alias("bucket_start"),
        "n_events",
        "vmin",
        "vmax",
        "vfirst",
        "vlast",
    )


@register(
    "events_rolling_dau",
    oracle="""
    WITH day_users AS (
        SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ), offsets AS (
        SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6)) AS t(k)
    ), fanout AS (
        SELECT d + to_days(CAST(k AS INTEGER)) AS win_day, user_id
        FROM day_users CROSS JOIN offsets
    ), days AS (
        SELECT DISTINCT date_trunc('day', ts) AS win_day FROM events
    )
    SELECT strftime(f.win_day, '%Y-%m-%d') AS day,
           COUNT(DISTINCT f.user_id) AS dau_7d
    FROM fanout f JOIN days USING (win_day)
    GROUP BY f.win_day
    """,
)
def events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the product-analytics
    staple that window functions CANNOT express (COUNT(DISTINCT) is not a
    supported window aggregate in either engine): each (day, user) pair
    fans out to the 7 window-end days it contributes to (a 7-row
    broadcast cross join, the stream_sliding trick applied to distinct
    counting), then one groupBy counts distinct users per window day.
    Trailing fan-out days beyond the observed range are dropped by the
    join against real days.

    Scale: the fan-out multiplies the DAY-USER table (already distinct —
    tiny relative to raw events), never raw events; the final distinct
    count shuffles (day, user) pairs. The approximate alternative at
    extreme scale is 7-day HLL sketch merging (agg_hll_sketch_mergeable's
    posture); this key is the exact form.
    """
    e = load(spark, sf_dir, "events")
    day_users = e.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    offsets = F.broadcast(spark.range(7).select(F.col("id").cast("int").alias("k")))
    fanout = day_users.crossJoin(offsets).select(
        F.date_add(F.col("d"), F.col("k")).alias("win_day"), "user_id"
    )
    days = e.select(F.date_trunc("day", "ts").alias("win_day")).distinct()
    return (
        fanout.join(days.withColumn("win_day", F.col("win_day").cast("date")), "win_day")
        .groupBy("win_day")
        .agg(F.countDistinct("user_id").alias("dau_7d"))
        .select(
            F.date_format("win_day", "yyyy-MM-dd").alias("day"),
            "dau_7d",
        )
    )


@register(
    "events_growth_accounting",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT date_trunc('week', ts) AS wk, user_id FROM events
    ), flags AS (
        SELECT wk, user_id,
               LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
               MIN(wk) OVER (PARTITION BY user_id) AS first_wk
        FROM uw
    ), weekly AS (
        SELECT wk,
               COUNT(*) AS n_active,
               SUM(CASE WHEN wk = first_wk THEN 1 ELSE 0 END) AS n_new,
               SUM(CASE WHEN wk <> first_wk
                         AND date_diff('day', prev_wk, wk) = 7
                        THEN 1 ELSE 0 END) AS n_retained,
               SUM(CASE WHEN wk <> first_wk
                         AND date_diff('day', prev_wk, wk) > 7
                        THEN 1 ELSE 0 END) AS n_resurrected
        FROM flags GROUP BY wk
    )
    SELECT strftime(wk, '%Y-%m-%d') AS week,
           n_active,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(n_retained AS BIGINT) AS n_retained,
           CAST(n_resurrected AS BIGINT) AS n_resurrected,
           CAST(COALESCE(LAG(n_active) OVER (ORDER BY wk), 0) - n_retained
               AS BIGINT) AS n_churned_from_prev
    FROM weekly
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — the canonical active-user decomposition:
    every week's actives split into NEW (first-ever week), RETAINED
    (active the immediately preceding week) and RESURRECTED (returning
    after a gap), with CHURN derived as last week's actives minus this
    week's retained. The identity n_active = n_new + n_retained +
    n_resurrected holds by construction and the oracle hash pins it.

    Shape: one distinct over (user, week) — the only fact-sized shuffle —
    then per-user lag/min windows (bounded state per user) and a weekly
    rollup whose final lag window runs over a handful of week rows.
    At 100 TB the (user, week) distinct is incremental-friendly: append
    the new week's partition, never rescan history (the
    merge_incremental_agg posture).
    """
    e = load(spark, sf_dir, "events")
    uw = e.select(
        F.date_trunc("week", "ts").alias("wk"), "user_id"
    ).distinct()
    wu = Window.partitionBy("user_id").orderBy("wk")
    flags = uw.select(
        "wk",
        "user_id",
        F.lag("wk").over(wu).alias("prev_wk"),
        F.min("wk").over(Window.partitionBy("user_id")).alias("first_wk"),
    )
    is_new = F.col("wk") == F.col("first_wk")
    gap_days = F.datediff("wk", "prev_wk")
    weekly = flags.groupBy("wk").agg(
        F.count("*").alias("n_active"),
        F.sum(F.when(is_new, 1).otherwise(0)).alias("n_new"),
        F.sum(F.when(~is_new & (gap_days == 7), 1).otherwise(0)).alias("n_retained"),
        F.sum(F.when(~is_new & (gap_days > 7), 1).otherwise(0)).alias("n_resurrected"),
    )
    return grid_shift(weekly, ["wk"], [("prev_active", "n_active", -1)]).select(
        F.date_format("wk", "yyyy-MM-dd").alias("week"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        (
            F.coalesce(F.col("prev_active"), F.lit(0)) - F.col("n_retained")
        ).alias("n_churned_from_prev"),
    )
