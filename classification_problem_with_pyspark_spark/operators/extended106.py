"""Round-3 extension pack #106: the price-volume-mix bridge and cron
punctuality.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — price-volume-mix analysis (decompose a revenue change into
volume effect Σ(q₁−q₀)p₀, price effect Σq₀(p₁−p₀), and the joint
effect Σ(q₁−q₀)(p₁−p₀), which sum EXACTLY to ΔR — the FP&A bridge
chart behind every "why did revenue move" review) and scheduled-job
punctuality (the offset of each period's first event from its period
boundary — the cron-drift distribution every scheduler dashboard
shows) — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-3 standard): the bridge runs on exact
per-part integer quantities and floor micro-cent unit prices, so the
three effects are integer cross-products and conservation
(ΔR_µprice-units = vol + price + joint, per part and in total) is an
algebraic identity the hash pins; punctuality offsets are exact epoch
seconds against integer hour boundaries.

Scale posture (SURVEY.md §7.6): the bridge reduces to per-(part,
period) aggregates then one part-key join; punctuality is one rank
window inside (type, hour) partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

PVM_SPLIT = "1998-01-01"


@register(
    "agg_price_volume_mix_bridge",
    oracle=f"""
    WITH pq AS (
        SELECT l_partkey AS part,
               CASE WHEN l_shipdate < TIMESTAMP '{PVM_SPLIT}' THEN 0
                    ELSE 1 END AS period,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS spend
        FROM lineitem
        GROUP BY l_partkey, CASE WHEN l_shipdate < TIMESTAMP '{PVM_SPLIT}'
                                 THEN 0 ELSE 1 END
    ),
    both_t AS (  -- unit prices as exact floor micro-cents
        SELECT p0.part, p0.q AS q0, p1.q AS q1,
               (10000 * p0.spend) // p0.q AS up0,
               (10000 * p1.spend) // p1.q AS up1
        FROM (SELECT * FROM pq WHERE period = 0) p0
        JOIN (SELECT * FROM pq WHERE period = 1) p1 ON p1.part = p0.part
    ),
    effects AS (
        SELECT part,
               (q1 - q0) * up0 AS vol_eff,
               q0 * (up1 - up0) AS price_eff,
               (q1 - q0) * (up1 - up0) AS joint_eff,
               q1 * up1 - q0 * up0 AS delta_rev
        FROM both_t
    )
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(SUM(vol_eff) AS BIGINT) AS volume_effect,
        CAST(SUM(price_eff) AS BIGINT) AS price_effect,
        CAST(SUM(joint_eff) AS BIGINT) AS joint_effect,
        CAST(SUM(delta_rev) AS BIGINT) AS delta_revenue,
        CAST(SUM(delta_rev) - SUM(vol_eff) - SUM(price_eff) - SUM(joint_eff)
             AS BIGINT) AS conservation_residual
    FROM effects
    """,
)
def agg_price_volume_mix_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix bridge (SURVEY.md §2.4): decompose the
    period-over-period revenue change of both-period parts into
    volume Σ(q₁−q₀)p₀, price Σq₀(p₁−p₀), and joint Σ(q₁−q₀)(p₁−p₀)
    effects — the FP&A bridge chart, with its defining identity
    vol + price + joint ≡ ΔR carried as an explicit
    conservation_residual column that the hash pins at EXACTLY zero
    (the decomposition is algebra, not approximation — in micro-price
    units where unit prices are floor micro-cents, stated; the joint
    term is what lazy bridges smear into "mix" and lose).

    Exactness: integer quantities and floor micro-cent unit prices;
    three integer cross-products and their exact identity.

    Scale: per-(part, period) reduction first, one part-key join —
    the bridge over a billion SKUs is the same two shuffles.
    """
    li = load(spark, sf_dir, "lineitem")
    pq = (
        li.select(
            F.col("l_partkey").alias("part"),
            F.when(F.col("l_shipdate") < PVM_SPLIT, 0).otherwise(1).alias("period"),
            F.col("l_quantity").cast("long").alias("q"),
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("part", "period")
        .agg(
            F.sum("q").cast("long").alias("q"),
            F.sum("c").cast("long").alias("spend"),
        )
    )
    p0 = pq.where(F.col("period") == 0).select(
        "part",
        F.col("q").alias("q0"),
        F.expr("(10000 * spend) DIV q").alias("up0"),
    )
    p1 = pq.where(F.col("period") == 1).select(
        "part",
        F.col("q").alias("q1"),
        F.expr("(10000 * spend) DIV q").alias("up1"),
    )
    effects = p0.join(p1, "part").select(
        ((F.col("q1") - F.col("q0")) * F.col("up0")).alias("vol_eff"),
        (F.col("q0") * (F.col("up1") - F.col("up0"))).alias("price_eff"),
        ((F.col("q1") - F.col("q0")) * (F.col("up1") - F.col("up0"))).alias(
            "joint_eff"
        ),
        (F.col("q1") * F.col("up1") - F.col("q0") * F.col("up0")).alias(
            "delta_rev"
        ),
    )
    return effects.agg(
        F.count("*").alias("n_parts"),
        F.sum("vol_eff").cast("long").alias("volume_effect"),
        F.sum("price_eff").cast("long").alias("price_effect"),
        F.sum("joint_eff").cast("long").alias("joint_effect"),
        F.sum("delta_rev").cast("long").alias("delta_revenue"),
        (
            F.sum("delta_rev")
            - F.sum("vol_eff")
            - F.sum("price_eff")
            - F.sum("joint_eff")
        )
        .cast("long")
        .alias("conservation_residual"),
    )


@register(
    "events_cron_punctuality",
    oracle="""
    WITH firsts AS (
        SELECT event_type,
               date_trunc('hour', ts) AS hr,
               CAST(floor(epoch(MIN(ts))) AS BIGINT)
                   - CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
                   AS offset_s
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(MIN(offset_s) AS BIGINT) AS best_offset_s,
           CAST(MAX(offset_s) AS BIGINT) AS worst_offset_s,
           CAST(SUM(offset_s) // COUNT(*) AS BIGINT) AS mean_offset_s,
           CAST(SUM(CASE WHEN offset_s <= 60 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_on_time
    FROM firsts
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_cron_punctuality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cron punctuality (SURVEY.md §2.4): for each (type, hour), the
    offset of the hour's FIRST event from the hour boundary — the
    drift distribution a scheduler dashboard shows, with the
    within-a-minute on-time count as the SLO tile. An hourly job
    that's healthy shows offsets piled near zero; a queue backing up
    shows the mean creeping — and on this Poisson-ish fixture the
    mean offset is the memoryless waiting time, a distribution fact
    the hash pins rather than assumes.

    Exactness: exact floored epoch seconds against integer hour
    boundaries; floor-mean.

    Scale: one MIN per (type, hour) — map-side combinable — plus a
    per-type census over the calendar-bounded grid.
    """
    e = load(spark, sf_dir, "events")
    firsts = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.min("ts").alias("first_ts"))
        .select(
            "event_type",
            (F.unix_timestamp("first_ts") - F.unix_timestamp("hr"))
            .cast("long")
            .alias("offset_s"),
        )
    )
    return (
        firsts.groupBy("event_type")
        .agg(
            F.count("*").alias("n_hours"),
            F.min("offset_s").cast("long").alias("best_offset_s"),
            F.max("offset_s").cast("long").alias("worst_offset_s"),
            F.expr("CAST(SUM(offset_s) DIV COUNT(*) AS BIGINT)").alias(
                "mean_offset_s"
            ),
            F.sum(F.when(F.col("offset_s") <= 60, 1).otherwise(0))
            .cast("long")
            .alias("n_on_time"),
        )
        .orderBy("event_type")
    )
