"""Round-3 extension pack #48: SCD2 snapshot-grid reconstruction and
the parallel-moments merge audit.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — time-travel snapshot reconstruction over an SCD Type 2
history (Kimball's "point-in-time" dimension query, the calendar-grid
form every BI period-over-period report runs) and the mergeable
second-moment algebra behind Chan/Golub/LeVeque parallel variance
(the map-side-combine contract Spark's own partial aggregation relies
on) — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-3 standard): the snapshot spine is the
set of days PRESENT in the data (no generate_series state), the
as-of pick is a (ts DESC, event_id DESC) row_number with total
tie-order, and the moments fold exact integer deci-units (value·10,
chosen so n·Σx² stays far inside BIGINT at any plausible SF — cents²
would overflow at sf≥0.5; the docstring does that arithmetic). The
merge-vs-direct equality flag is computed from EXACT integers, so it
is a theorem check, not a tolerance check.

Scale posture (SURVEY.md §7.6): the snapshot grid joins the (small,
run-length-compressed) change log against a month spine that is
bounded by the calendar — broadcast the spine, never the history; the
moments audit is two map-side-combinable aggregations plus an
8-row-per-type merge — the shape that makes variance free at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

N_SHARDS = 8  # simulated parallel partials in the moments audit


@register(
    "scd2_snapshot_grid",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM seq
        WHERE prev_type IS NULL OR prev_type <> event_type
    ),
    spine AS (
        SELECT DISTINCT date_trunc('day', ts) AS m FROM events
    ),
    asof_grid AS (
        SELECT s.m, c.user_id, c.event_type,
               row_number() OVER (PARTITION BY s.m, c.user_id
                                  ORDER BY c.ts DESC, c.event_id DESC) AS rn
        FROM spine s JOIN changes c ON c.ts <= s.m
    )
    SELECT strftime(m, '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM asof_grid WHERE rn = 1
    GROUP BY m, event_type
    ORDER BY day, event_type
    """,
)
def scd2_snapshot_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 snapshot-grid reconstruction (SURVEY.md §2.3): rebuild, for
    every day boundary present in the data, the dimension AS OF that
    instant — each user's event_type state at the day start, counted
    per (day, type). The Kimball point-in-time query every
    period-over-period BI report runs against an SCD2 history; the
    companion key `scd2_user_type_history` BUILDS the intervals, this
    one READS them at a grid of instants (day start = exclusive
    upper bound: only strictly-earlier changes are visible; the
    fixture spans one calendar month, so the grid is daily — the
    plan is grid-period-agnostic).

    Users first seen after a boundary are correctly absent from that
    day's snapshot — reconstruction must not invent state.

    Exactness: the spine is the DISTINCT days present in events (no
    series-generation state to drift); the as-of pick orders by
    (ts DESC, event_id DESC) within (day, user), so even tied
    change timestamps pick identically on both engines.

    Scale: the change log is run-length-compressed BEFORE the grid
    join (the whole point of SCD2 — |changes| ≪ |events|), and the
    day spine is calendar-bounded, so the non-equi join broadcasts
    the spine and never the history; the rank window partitions on
    (day, user). Snapshots for any instant grid reuse this exact
    plan.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .drop("prev_type")
    )
    spine = e.select(F.date_trunc("day", "ts").alias("m")).distinct()
    w_pick = Window.partitionBy("m", "user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    asof = (
        changes.join(F.broadcast(spine), F.col("ts") <= F.col("m"))
        .select("m", "user_id", "event_type", F.row_number().over(w_pick).alias("rn"))
        .where(F.col("rn") == 1)
    )
    return (
        asof.groupBy("m", "event_type")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_format("m", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_users",
        )
        .orderBy("day", "event_type")
    )


@register(
    "agg_moments_merge_audit",
    oracle=f"""
    WITH base AS (
        SELECT event_type,
               CAST(('0x' || substr(md5('shard_' || CAST(event_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % {N_SHARDS} AS shard,
               CAST(round(value * 10) AS BIGINT) AS deci
        FROM events
    ),
    partials AS (  -- the per-executor combiner output
        SELECT event_type, shard,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(deci) AS BIGINT) AS s,
               CAST(SUM(deci * deci) AS BIGINT) AS q
        FROM base GROUP BY event_type, shard
    ),
    merged AS (  -- the reduce-side merge: plain sums of (n, s, q)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_shards,
               CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(s) AS BIGINT) AS s,
               CAST(SUM(q) AS BIGINT) AS q
        FROM partials GROUP BY event_type
    ),
    direct AS (  -- the single-pass reference on the raw rows
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(deci) AS BIGINT) AS s,
               CAST(SUM(deci * deci) AS BIGINT) AS q
        FROM base GROUP BY event_type
    )
    SELECT m.event_type, m.n_shards, m.n,
           CAST((1000000 * m.s) // (10 * m.n) AS BIGINT) AS mean_micro,
           CAST((10000 * ((m.n * m.q - m.s * m.s) // m.n)) // m.n
                AS BIGINT) AS var_micro,
           (m.n = d.n AND m.s = d.s AND m.q = d.q) AS merge_exact
    FROM merged m JOIN direct d ON d.event_type = m.event_type
    ORDER BY m.event_type
    """,
)
def agg_moments_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel-moments merge audit (SURVEY.md §2.4): split each event
    type's rows into N_SHARDS hash shards (stand-ins for executor
    partitions), reduce each shard to the mergeable moment triple
    (n, Σx, Σx²), merge the triples with plain addition, and prove —
    with an exact integer equality flag, not a tolerance — that the
    merge equals the single-pass triple. This is the map-side-combine
    contract Spark's partial aggregation depends on, pinned as a
    first-class query; the mean/variance then fold from the merged
    triple alone.

    Units: deci-units (value·10) keep n·Σx² far inside BIGINT —
    cents² would overflow int64 once n·x² passes ~9.2e18 (≈ sf 0.5
    for this fixture); the docstring arithmetic is the point: choose
    the coarsest unit that is still exact for the column's precision
    (events.value carries 2 decimals scaled by 10 → deci is exact
    for .0/.5 grids; the fixture's values are 2-decimal, so deci
    rounds — IDENTICALLY on both engines — and the audit's theorem
    is about the triple algebra, which holds for any deterministic
    integer input).

    Scale: two aggregations (by (type, shard), then by type) — both
    map-side combinable, shuffle O(|types|·N_SHARDS). Variance at
    100 TB IS this plan; Welford is for streams, not shuffles.
    """
    shard = md5_long(F.concat(F.lit("shard_"), F.col("event_id").cast("string"))) % N_SHARDS
    base = load(spark, sf_dir, "events").select(
        "event_type",
        shard.alias("shard"),
        F.expr("CAST(round(value * 10) AS BIGINT)").alias("deci"),
    )
    partials = base.groupBy("event_type", "shard").agg(
        F.count("*").alias("n"),
        F.sum("deci").cast("long").alias("s"),
        F.sum(F.col("deci") * F.col("deci")).cast("long").alias("q"),
    )
    merged = partials.groupBy("event_type").agg(
        F.count("*").alias("n_shards"),
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("s"),
        F.sum("q").cast("long").alias("q"),
    )
    direct = base.groupBy("event_type").agg(
        F.count("*").alias("dn"),
        F.sum("deci").cast("long").alias("ds"),
        F.sum(F.col("deci") * F.col("deci")).cast("long").alias("dq"),
    )
    return (
        merged.join(direct, "event_type")
        .select(
            "event_type",
            "n_shards",
            "n",
            F.expr("CAST((1000000 * s) DIV (10 * n) AS BIGINT)").alias(
                "mean_micro"
            ),
            F.expr(
                "CAST((10000 * ((n * q - s * s) DIV n)) DIV n AS BIGINT)"
            ).alias("var_micro"),
            (
                (F.col("n") == F.col("dn"))
                & (F.col("s") == F.col("ds"))
                & (F.col("q") == F.col("dq"))
            ).alias("merge_exact"),
        )
        .orderBy("event_type")
    )
