"""Round-3 extension pack #77: hysteresis alerting and multi-character
delimiter CSV.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — hysteresis (Schmitt-trigger) alerting, the monitoring
convention that enters alarm above a HIGH threshold and exits only
below a LOW one so values oscillating near a single threshold cannot
flap the pager, and multi-character delimiter CSV ("||"-separated
exports, the classic Hive/Teradata dump format Spark's CSV reader
handles natively since 3.0) — re-expressed on the public PySpark
DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the hysteresis state is
NOT a sequential fold — it is the LAST BOUNDARY CROSSING carried
forward (LOCF of a ±1 crossing marker under the (ts, event_id) total
order), which makes a seemingly-stateful scan a pure window
expression both engines replay identically; thresholds are integer
cents. The staged "||" file round-trips integer cents and the oracle
restates from the base dim.

Scale posture (SURVEY.md §7.6): hysteresis is one LOCF window inside
the per-type partitioning + an episode count (the crossing trick is
exactly how alert state is backfilled over history at scale — replay
a fold and you serialize; carry the last crossing and you scan);
the delimiter parse is one pass of JVM codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import bounded_collect, load, stage_dir

HI_CENTS = 10_000  # enter alert above this (~p88 of the fixture)
LO_CENTS = 2_000  # exit alert below this (the hysteresis band)


@register(
    "events_hysteresis_alerting",
    oracle=f"""
    WITH v AS (
        SELECT event_type, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN CAST(round(value * 100) AS BIGINT) > {HI_CENTS}
                    THEN 1
                    WHEN CAST(round(value * 100) AS BIGINT) < {LO_CENTS}
                    THEN -1 END AS crossing
        FROM events
    ),
    stated AS (
        SELECT event_type, cents,
               COALESCE(LAST_VALUE(crossing IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
                   AS state,
               COALESCE(LAST_VALUE(crossing IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                   AS prev_state
        FROM v
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN state = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_in_alert,
           CAST(SUM(CASE WHEN state = 1 AND prev_state = -1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_episodes,
           CAST(SUM(CASE WHEN cents BETWEEN {LO_CENTS} AND {HI_CENTS}
                         AND state = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_band_held_in_alert
    FROM stated
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_hysteresis_alerting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hysteresis (Schmitt-trigger) alerting (SURVEY.md §2.4): per
    event type's value stream, alert state enters above {HI_CENTS}
    cents and exits only below {LO_CENTS} — the two-threshold band
    that stops pager flapping, because values inside the band HOLD
    whatever state the last crossing set. The stateful-looking scan
    folds to a pure window: state = the LAST crossing marker (+1/−1)
    carried forward under the (ts, event_id) total order, COALESCE to
    −1 before the first crossing (start out of alert, stated).
    Reported per type: events in alert, distinct alert EPISODES
    (entries), and the band-held-in-alert count — the rows a
    single-threshold alert would have flapped on, which the tests
    pin as strictly positive.

    Exactness: integer cents, integer markers, LOCF windows.

    Scale: two LOCF windows inside the per-type shuffle — the
    backfill-over-history form of alert state (replaying a
    sequential fold would serialize per key; the crossing trick
    scans). The streaming twin lives in the stateful-streaming
    family; the algebra here is what its state update implements.
    """
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    v = load(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        cents.alias("cents"),
        F.when(cents > HI_CENTS, 1)
        .when(cents < LO_CENTS, -1)
        .alias("crossing"),
    )
    w_cur = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stated = v.select(
        "event_type",
        "cents",
        F.coalesce(
            F.last("crossing", ignorenulls=True).over(w_cur), F.lit(-1)
        ).alias("state"),
        F.coalesce(
            F.last("crossing", ignorenulls=True).over(w_prev), F.lit(-1)
        ).alias("prev_state"),
    )
    return (
        stated.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("state") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_in_alert"),
            F.sum(
                F.when(
                    (F.col("state") == 1) & (F.col("prev_state") == -1), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_episodes"),
            F.sum(
                F.when(
                    F.col("cents").between(LO_CENTS, HI_CENTS)
                    & (F.col("state") == 1),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_band_held_in_alert"),
        )
        .orderBy("event_type")
    )


@register(
    "source_csv_multichar_delim",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS nation_key,
           n_name AS name,
           CAST(n_regionkey AS BIGINT) AS region_key
    FROM nation
    ORDER BY nation_key
    """,
)
def source_csv_multichar_delim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-character delimiter CSV (SURVEY.md §2.1): the "||"
    separated export format (Hive's default-adjacent, Teradata
    FastExport's favorite — chosen by vendors precisely because a
    single character collides with free text too often), staged
    deterministically from the nation dim and read back with Spark's
    native multi-char `sep` support. Completes the CSV dialect
    surface: quoted-multiline, malformed modes, locale numbers, gzip,
    and now multi-char delimiters — the five ways real CSVs deviate
    from the textbook.

    Exactness: the oracle restates the rows from the base dim — a
    true round-trip proof; names containing single '|' would not
    break the parse (the delimiter is the pair), which is the
    format's entire reason to exist.

    Scale: one-pass JVM parse; the multi-char split costs the same
    scan as any CSV.
    """
    stage = stage_dir("csv_multichar")
    rows = sorted(
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in bounded_collect(
            load(spark, sf_dir, "nation"), max_rows=25, what="nation dim"
        )
    )
    path = os.path.join(stage, "part-0.csv")
    with open(path, "w") as f:
        f.write("nation_key||name||region_key\n")
        for key, name, region in rows:
            f.write(f"{key}||{name}||{region}\n")
    back = (
        spark.read.option("header", "true")
        .option("sep", "||")
        .schema("nation_key bigint, name string, region_key bigint")
        .csv(path)
    )
    return back.select("nation_key", "name", "region_key").orderBy("nation_key")
