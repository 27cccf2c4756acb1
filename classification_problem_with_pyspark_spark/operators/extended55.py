"""Round-3 extension pack #55: FX-rate LOCF as-of conversion and
U-shaped multi-touch attribution with exact cent conservation.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — currency conversion against a sparse (business-day) rate
table with last-observation-carried-forward as-of semantics (the
ISO-20022 / market-data convention: weekend trades settle at Friday's
fix), and position-based ("U-shaped" / 40-20-40) multi-touch
attribution (the standard position model in marketing analytics,
degenerating to 100% / 50-50 for one- and two-touch paths) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): the rate table is a
deterministic md5 synthesis on weekday grid points only (sparsity is
the point — the LOCF fill is what's under test); the as-of fill is the
interleaved-stream LAST(ignore nulls) window, ordered by a total key;
attribution weights are exact rationals (2(k−2)/5(k−2) | 1/5(k−2))
folded through the pack-51 largest-remainder discipline, so every
conversion's cents are conserved exactly across its touches.

Scale posture (SURVEY.md §7.6): the FX fill is the union-stream as-of
(one shuffle on currency, one ordered window — never an inequality
join of facts × rates); attribution joins each conversion to at most
LOOKBACK preceding touches (rank-capped — the uncapped form is
quadratic per user and the docstring says so).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

FX_SPREAD = 500_000  # rate_micro = 1e6 + md5 % spread
LOOKBACK = 5  # attribution window: last N touches before the conversion


@register(
    "join_fx_rate_asof",
    oracle=f"""
    WITH orders_c AS (
        SELECT o_orderkey AS k,
               CASE o_orderstatus WHEN 'O' THEN 'EUR'
                                  WHEN 'F' THEN 'GBP'
                                  ELSE 'JPY' END AS ccy,
               CAST(o_orderdate AS DATE) AS d,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    ccys AS (SELECT DISTINCT ccy FROM orders_c),
    days AS (SELECT DISTINCT d FROM orders_c),
    rates AS (  -- business-day grid only: weekends carry no fix
        SELECT c.ccy, dy.d,
               1000000 + CAST(('0x' || substr(md5('fx_' || c.ccy || '_'
                              || strftime(dy.d, '%Y-%m-%d')), 1, 15))
                              AS BIGINT) % {FX_SPREAD} AS rate_micro
        FROM ccys c, days dy
        WHERE dayofweek(dy.d) BETWEEN 1 AND 5
    ),
    stream AS (
        SELECT ccy, d, 1 AS is_rate, rate_micro,
               NULL AS k, NULL AS cents FROM rates
        UNION ALL
        SELECT ccy, d, 0 AS is_rate, NULL, k, cents FROM orders_c
    ),
    filled AS (
        SELECT ccy, d, is_rate, k, cents,
               LAST_VALUE(rate_micro IGNORE NULLS) OVER (
                   PARTITION BY ccy
                   ORDER BY d, is_rate DESC, COALESCE(k, -1)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS rate_micro
        FROM stream
    )
    SELECT ccy,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN rate_micro IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unrated,
           CAST(SUM(cents) AS BIGINT) AS native_cents,
           CAST(SUM(CASE WHEN rate_micro IS NOT NULL
                         THEN (cents * rate_micro) // 1000000
                         ELSE 0 END) AS BIGINT) AS converted_cents
    FROM filled WHERE is_rate = 0
    GROUP BY ccy
    ORDER BY ccy
    """,
)
def join_fx_rate_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FX as-of conversion with LOCF fill (SURVEY.md §2.3): convert
    each order's cents at the LAST KNOWN rate for its currency — the
    rate table carries business-day fixes only (deterministic md5
    grid), so weekend orders must roll back to Friday's fix, and
    orders before the first fix stay honestly unrated (counted, never
    silently converted at 1.0). The market-data join every revenue
    mart runs; the sparse-table LOCF semantics are exactly what a
    naive equi-join on date silently drops.

    The fill is the union-stream as-of: interleave rates and orders
    per currency under the (date, rate-first, key) total order and
    carry the last non-null rate forward — ONE window, no
    inequality join. Conversion is exact integer micro-rate floor.

    Scale: one shuffle on currency + one ordered window — the as-of
    plan that survives any fact volume (the rate side is
    calendar-bounded); the facts × rates range join it replaces
    explodes quadratically in the date span. Same machinery as
    `join_asof_events`, applied to the reference-data shape.
    """
    oc = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderstatus") == "O", "EUR")
        .when(F.col("o_orderstatus") == "F", "GBP")
        .otherwise("JPY")
        .alias("ccy"),
        F.to_date("o_orderdate").alias("d"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    days = oc.select("d").distinct()
    ccys = oc.select("ccy").distinct()
    rate_hash = md5_long(
        F.concat(F.lit("fx_"), F.col("ccy"), F.lit("_"), F.date_format("d", "yyyy-MM-dd"))
    )
    rates = (
        ccys.crossJoin(days)
        # Spark dayofweek: 1=Sun..7=Sat; weekday = 2..6
        .where(F.dayofweek("d").between(2, 6))
        .select("ccy", "d", (1_000_000 + rate_hash % FX_SPREAD).alias("rate_micro"))
    )
    stream = rates.select(
        "ccy",
        "d",
        F.lit(1).alias("is_rate"),
        "rate_micro",
        F.lit(None).cast("long").alias("k"),
        F.lit(None).cast("long").alias("cents"),
    ).unionByName(
        oc.select(
            "ccy",
            "d",
            F.lit(0).alias("is_rate"),
            F.lit(None).cast("long").alias("rate_micro"),
            "k",
            "cents",
        )
    )
    w = (
        Window.partitionBy("ccy")
        .orderBy("d", F.desc("is_rate"), F.coalesce("k", F.lit(-1)))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = stream.select(
        "ccy",
        "is_rate",
        "cents",
        F.last("rate_micro", ignorenulls=True).over(w).alias("rate_micro"),
    ).where(F.col("is_rate") == 0)
    return (
        filled.groupBy("ccy")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(F.col("rate_micro").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unrated"),
            F.sum("cents").cast("long").alias("native_cents"),
            F.sum(
                F.when(
                    F.col("rate_micro").isNotNull(),
                    F.expr("(cents * rate_micro) DIV 1000000"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("converted_cents"),
        )
        .orderBy("ccy")
    )


@register(
    "events_attribution_ushape_exact",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, event_type, ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    conv AS (SELECT * FROM ev WHERE event_type = 'purchase'),
    pairs AS (
        SELECT c.event_id AS conv_id, c.cents AS conv_cents,
               t.event_type AS touch_type,
               row_number() OVER (PARTITION BY c.event_id
                                  ORDER BY t.ts DESC, t.event_id DESC) AS rn
        FROM conv c JOIN ev t
          ON t.user_id = c.user_id
         AND (t.ts < c.ts OR (t.ts = c.ts AND t.event_id < c.event_id))
    ),
    win AS (SELECT * FROM pairs WHERE rn <= {LOOKBACK}),
    sized AS (
        SELECT *, CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS k
        FROM win
    ),
    weighted AS (  -- U-shape numerators over denominator 5(k-2); k<=2 special
        SELECT conv_id, conv_cents, touch_type, rn, k,
               CASE WHEN k = 1 THEN 1
                    WHEN k = 2 THEN 1
                    WHEN rn = 1 OR rn = k THEN 2 * (k - 2)
                    ELSE 1 END AS num,
               CASE WHEN k = 1 THEN 1
                    WHEN k = 2 THEN 2
                    ELSE 5 * (k - 2) END AS den
        FROM sized
    ),
    floored AS (
        SELECT *,
               (conv_cents * num) // den AS floor_cents,
               (conv_cents * num) % den AS rem
        FROM weighted
    ),
    bumped AS (
        SELECT *,
               CAST(conv_cents - SUM(floor_cents) OVER (PARTITION BY conv_id)
                    AS BIGINT) AS deficit,
               row_number() OVER (PARTITION BY conv_id
                                  ORDER BY rem DESC, rn) AS brk
        FROM floored
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(floor_cents + CASE WHEN brk <= deficit THEN 1 ELSE 0 END)
                AS BIGINT) AS attributed_cents
    FROM bumped
    GROUP BY touch_type
    ORDER BY touch_type
    """,
)
def events_attribution_ushape_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution (SURVEY.md §2.4): credit each
    purchase's cents across its last LOOKBACK preceding touches with
    the position model — 40% to the first touch in the window, 40% to
    the last, the middle 20% split evenly (100% / 50-50 for one- and
    two-touch paths) — and report per touch type the total credited
    cents. Completes `events_attribution_multitouch` (first/last/
    linear) with the position model agencies actually bill on, and
    composes the pack-51 largest-remainder discipline so every
    conversion's cents land EXACTLY (40-20-40 in floating point leaks
    cents on every path; the remainder rank repairs each conversion
    deterministically — conservation is the tested theorem).

    Weights as exact rationals over den = 5(k−2): first/last get
    2(k−2), middles 1 — identical integer arithmetic on both engines;
    the touch window is the (ts, event_id) strict predecessor order.

    Scale: the conversion-to-touch join is rank-capped at LOOKBACK
    (the uncapped journey join is quadratic per user — stated, not
    hidden); everything after is windows inside the per-conversion
    partitioning. One fact shuffle on user_id, one on conv_id.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("c_ts"),
        F.col("cents").alias("conv_cents"),
    )
    pairs = conv.join(ev, conv.c_user == ev.user_id).where(
        (F.col("ts") < F.col("c_ts"))
        | ((F.col("ts") == F.col("c_ts")) & (F.col("event_id") < F.col("conv_id")))
    )
    w_rn = Window.partitionBy("conv_id").orderBy(F.desc("ts"), F.desc("event_id"))
    win = (
        pairs.select(
            "conv_id",
            "conv_cents",
            F.col("event_type").alias("touch_type"),
            F.row_number().over(w_rn).alias("rn"),
        )
        .where(F.col("rn") <= LOOKBACK)
    )
    w_conv = Window.partitionBy("conv_id")
    sized = win.withColumn("k", F.count("*").over(w_conv).cast("long"))
    weighted = sized.select(
        "*",
        F.when(F.col("k") <= 2, 1)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("k")), 2 * (F.col("k") - 2))
        .otherwise(1)
        .alias("num"),
        F.when(F.col("k") == 1, 1)
        .when(F.col("k") == 2, 2)
        .otherwise(5 * (F.col("k") - 2))
        .alias("den"),
    )
    floored = weighted.select(
        "*",
        F.expr("(conv_cents * num) DIV den").alias("floor_cents"),
        F.expr("(conv_cents * num) % den").alias("rem"),
    )
    w_brk = Window.partitionBy("conv_id").orderBy(F.desc("rem"), "rn")
    bumped = floored.select(
        "*",
        (F.col("conv_cents") - F.sum("floor_cents").over(w_conv))
        .cast("long")
        .alias("deficit"),
        F.row_number().over(w_brk).alias("brk"),
    )
    return (
        bumped.groupBy("touch_type")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum(
                F.col("floor_cents")
                + F.when(F.col("brk") <= F.col("deficit"), 1).otherwise(0)
            )
            .cast("long")
            .alias("attributed_cents"),
        )
        .orderBy("touch_type")
    )
