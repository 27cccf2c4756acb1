"""Round-3 extension pack #8: operational-analytics completions —
data-freshness SLA auditing, the Theil–Sen robust trend estimator
(paired with the Mann–Kendall test from pack #7), and a true
interval-overlap join (distinct from the point-in-range `join_range_*`
shapes).

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. All patterns here are public
knowledge — Theil–Sen (Sen 1968) — expressed on the public PySpark
DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): every cross-row float
aggregate folds INTEGER micro-units or exact BIGINT counts; the only
double math is single deterministic expressions (one division, one
comparison) evaluated identically on both engines; medians are LOWER
medians picked by integer rank, never interpolated; DuckDB
SUM(BIGINT)→HUGEINT promotions never reach an output column
(tests/parity.py bans them).

Scale posture (SURVEY.md §7.6):
- Freshness SLA is one scan + a 1-row broadcast of the corpus max —
  no second pass, no driver round-trip.
- Theil–Sen self-joins BOUNDED per-group daily aggregates (~30 rows per
  event_type ⇒ ~435 pairs), never raw events; the pair stage is
  O(days²) per group by construction, independent of event volume.
- The interval-overlap join is banded by day (equi-key) with the
  overlap predicate applied inside each day band — never a cartesian;
  at 100 TB widen the band key to (day, hour) to cap band width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "audit_freshness_sla",
    oracle="""
    WITH g AS (SELECT max(ts) AS gmax FROM events),
    per AS (
        SELECT e.event_type,
               max(e.ts) AS last_ts,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN e.ts >= g.gmax - INTERVAL 24 HOUR
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_last_day
        FROM events e CROSS JOIN g
        GROUP BY e.event_type
    )
    SELECT p.event_type, p.last_ts,
           epoch_us(g.gmax) - epoch_us(p.last_ts) AS lag_micros,
           p.n_events, p.n_last_day,
           (epoch_us(g.gmax) - epoch_us(p.last_ts)) > 1800000000 AS sla_breach
    FROM per p CROSS JOIN g
    ORDER BY p.event_type
    """,
)
def audit_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA audit (SURVEY.md §2.14): per event_type, the
    last-seen timestamp, its lag behind the corpus watermark in exact
    microseconds, total volume, volume in the trailing 24 h window, and
    an SLA-breach flag at 30 min of staleness (at sf0.01 the `error`
    and `purchase` feeds breach: 2 009 s and 1 935 s of lag).

    The shape every ingestion pipeline runs hourly: one scan of the
    fact, a 1-row global-max broadcast joined back so the trailing-24 h
    conditional count happens in the SAME single aggregation pass (no
    second scan), exact integer microsecond arithmetic end-to-end.
    Scale: the 1-row cross join is broadcast by AQE; the groupBy
    partial-aggregates map-side; nothing but (type, max, counts)
    shuffles.
    """
    e = load(spark, sf_dir, "events")
    gmax = e.agg(F.max("ts").alias("gmax"))
    per = (
        e.crossJoin(F.broadcast(gmax))
        .groupBy("event_type")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("n_events"),
            F.sum(
                F.when(
                    F.col("ts") >= F.col("gmax") - F.expr("INTERVAL 24 HOURS"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_last_day"),
        )
    )
    lag = F.unix_micros(F.col("gmax")) - F.unix_micros(F.col("last_ts"))
    return (
        per.crossJoin(F.broadcast(gmax))
        .select(
            "event_type",
            "last_ts",
            lag.alias("lag_micros"),
            "n_events",
            "n_last_day",
            (lag > F.lit(1800000000)).alias("sla_breach"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_theil_sen",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.event_type,
               CAST(floor(1000000.0 * (b.cnt - a.cnt)
                          / date_diff('day', a.day, b.day)) AS BIGINT)
                   AS slope_micro
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.day > a.day
    ), ranked AS (
        SELECT event_type, slope_micro,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope_micro) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_pairs
        FROM pairs
    )
    SELECT r.event_type,
           d.n_days,
           CAST(r.n_pairs AS BIGINT) AS n_pairs,
           r.slope_micro AS ts_slope_micro_per_day
    FROM ranked r
    JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
          FROM daily GROUP BY 1) d USING (event_type)
    WHERE r.rn = (r.n_pairs + 1) // 2
    ORDER BY r.event_type
    """,
)
def agg_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope (SURVEY.md §2.13): per event_type,
    the median of all pairwise slopes of the daily-count series — the
    standard robust alternative to OLS (breaks down only past 29%
    outliers), and the effect-size companion to pack #7's Mann–Kendall
    direction test (`events_trend_mann_kendall`).

    Determinism contract: slopes are folded to floor(1e6·Δcnt/Δday)
    BIGINT micro-units (one IEEE division + floor, identical on both
    engines) and the median is the LOWER median picked by integer rank
    rn == (n+1)/2 — never interpolated, so even-count groups stay
    exact. At sf0.01: 30 days/type ⇒ 435 pairs/type; `view` trends
    +0.083 events/day, `purchase` −0.25.

    Scale: the quadratic stage runs over the per-type DAILY aggregate
    (bounded by the calendar, ~365 rows/yr/type), never raw events —
    the same bounded-series posture as autocorrelation and OHLC. The
    self-join is equi-keyed on event_type; groups are independent.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("cnt"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.floor(
            1000000.0
            * (F.col("b.cnt") - F.col("a.cnt"))
            / F.datediff(F.col("b.day"), F.col("a.day"))
        )
        .cast("long")
        .alias("slope_micro"),
    )
    wrank = Window.partitionBy("event_type").orderBy("slope_micro")
    wall = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope_micro",
        F.row_number().over(wrank).alias("rn"),
        F.count("*").over(wall).alias("n_pairs"),
    )
    n_days = daily.groupBy("event_type").agg(F.count("*").alias("n_days"))
    return (
        ranked.where(F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
        .join(F.broadcast(n_days), "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            F.col("slope_micro").alias("ts_slope_micro_per_day"),
        )
        .orderBy("event_type")
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH user_day AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               min(ts) AS a_start, max(ts) AS a_end
        FROM events GROUP BY 1, 2
    ), hourly AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               date_trunc('hour', ts) AS h_start,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2, 3
    ), thresh AS (
        SELECT event_type, avg(cnt) AS avg_cnt FROM hourly GROUP BY 1
    ), burst AS (
        SELECT h.event_type, h.day, h.h_start,
               h.h_start + INTERVAL 1 HOUR AS h_end, h.cnt
        FROM hourly h JOIN thresh t USING (event_type)
        WHERE h.cnt > 1.5 * t.avg_cnt
    )
    SELECT u.user_id, u.day,
           CAST(count(*) AS BIGINT) AS n_burst_windows,
           CAST(count(DISTINCT b.event_type) AS BIGINT) AS n_burst_types,
           CAST(sum(b.cnt) AS BIGINT) AS burst_events_total
    FROM user_day u JOIN burst b
      ON u.day = b.day AND u.a_start < b.h_end AND b.h_start <= u.a_end
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (SURVEY.md §2.5): per-user daily activity
    intervals [first event, last event] joined against per-type BURST
    windows (hours whose event count exceeds 1.5× that type's hourly
    average), on the standard two-interval overlap predicate
    a_start < b_end AND b_start <= a_end. Answers "which users were
    active during traffic bursts, and how exposed were they" — the
    incident-correlation shape; distinct from `join_range_events`
    (point-in-range) and `join_asof_*` (nearest-preceding).

    Both interval sets derive from the same single events scan (two
    groupBys); the overlap join is BANDED by the equi-key `day`, so
    Spark plans a hash join on day with the interval predicate as a
    residual filter inside each band — never a cartesian (plan-asserted
    in tests/test_extended8.py). At sf0.01: 517 burst windows, 3 505
    user-day exposure rows. Scale: band width is bounded by
    users-active-per-day × burst-hours-per-day; at 100 TB narrow the
    band key to (day, hour-of-interval-span) to cap it.

    Threshold determinism: avg(cnt) is one exact-integer sum / count
    (a single IEEE division) and 1.5× one multiplication — bit-identical
    on both engines, so the burst set matches exactly.
    """
    e = load(spark, sf_dir, "events")
    user_day = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.min("ts").alias("a_start"), F.max("ts").alias("a_end"))
    hourly = e.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.date_trunc("hour", "ts").alias("h_start"),
    ).agg(F.count("*").alias("cnt"))
    thresh = hourly.groupBy("event_type").agg(F.avg("cnt").alias("avg_cnt"))
    burst = (
        hourly.join(F.broadcast(thresh), "event_type")
        .where(F.col("cnt") > 1.5 * F.col("avg_cnt"))
        .select(
            "event_type",
            "day",
            "h_start",
            (F.col("h_start") + F.expr("INTERVAL 1 HOUR")).alias("h_end"),
            "cnt",
        )
    )
    return (
        user_day.join(
            burst,
            (user_day["day"] == burst["day"])
            & (F.col("a_start") < F.col("h_end"))
            & (F.col("h_start") <= F.col("a_end")),
        )
        .groupBy(user_day["user_id"], user_day["day"])
        .agg(
            F.count("*").alias("n_burst_windows"),
            F.countDistinct("event_type").alias("n_burst_types"),
            F.sum("cnt").alias("burst_events_total"),
        )
        .orderBy("user_id", "day")
    )
