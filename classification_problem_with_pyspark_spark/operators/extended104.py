"""Round-3 extension pack #104: peaks-over-threshold mean excess.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the mean-excess function of extreme value theory (E[X−u |
X>u] at a high threshold u — the peaks-over-threshold diagnostic whose
slope identifies the tail family before a GPD is ever fitted; Davison &
Smith 1990) — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-3 standard): thresholds are rank-defined
p90s; exceedance counts and mean excess fold exact integers.

Scale posture (SURVEY.md §7.6): a per-group aggregate — one rank window
plus one conditional pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "agg_mean_excess_pot",
    oracle="""
    WITH v AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    ranked AS (
        SELECT event_type, c,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
    ),
    thresholds AS (  -- u = the rank-convention p90 per type
        SELECT event_type,
               CAST(MAX(CASE WHEN rn = (9 * n + 1) // 10 THEN c END)
                    AS BIGINT) AS u
        FROM ranked GROUP BY event_type
    )
    SELECT v.event_type, t.u AS threshold_cents,
           CAST(COUNT(*) AS BIGINT) AS n_exceedances,
           CAST(SUM(v.c - t.u) AS BIGINT) AS total_excess_cents,
           CAST(SUM(v.c - t.u) // COUNT(*) AS BIGINT) AS mean_excess_cents,
           CAST(MAX(v.c - t.u) AS BIGINT) AS max_excess_cents
    FROM v JOIN thresholds t ON t.event_type = v.event_type
    WHERE v.c > t.u
    GROUP BY v.event_type, t.u
    ORDER BY v.event_type
    """,
)
def agg_mean_excess_pot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean excess over threshold (SURVEY.md §2.4): per event type, set
    the threshold u at the rank-convention p90 and report the
    exceedance count, total and MEAN excess E[X−u | X>u], and the
    maximum — the peaks-over-threshold diagnostic that opens every
    extreme-value analysis (a mean excess growing in u says
    heavy/Pareto tail, flat says exponential, shrinking says bounded
    — Davison & Smith 1990), and the quantity reinsurance literally
    prices. Completes the tail family: `agg_var_cvar_exact` reads the
    tail's risk numbers, this key reads its SHAPE.

    Exactness: rank-defined threshold, exact integer excesses, one
    floor division.

    Scale: one rank window for u + one conditional pass — and at
    100 TB u comes from a quantile sketch while the excess pass
    stays exact, the standing tail-key discipline.
    """
    v = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    w_rn = Window.partitionBy("event_type").orderBy("c", "event_id")
    w_n = Window.partitionBy("event_type")
    ranked = v.select(
        "event_type",
        "c",
        F.row_number().over(w_rn).alias("rn"),
        F.count("*").over(w_n).alias("n"),
    )
    thresholds = ranked.groupBy("event_type").agg(
        F.max(F.expr("CASE WHEN rn = (9 * n + 1) DIV 10 THEN c END"))
        .cast("long")
        .alias("u")
    )
    return (
        v.join(thresholds, "event_type")
        .where(F.col("c") > F.col("u"))
        .groupBy("event_type", "u")
        .agg(
            F.count("*").alias("n_exceedances"),
            F.sum(F.col("c") - F.col("u"))
            .cast("long")
            .alias("total_excess_cents"),
            F.expr("CAST(SUM(c - u) DIV COUNT(*) AS BIGINT)").alias(
                "mean_excess_cents"
            ),
            F.max(F.col("c") - F.col("u")).cast("long").alias(
                "max_excess_cents"
            ),
        )
        .select(
            "event_type",
            F.col("u").alias("threshold_cents"),
            "n_exceedances",
            "total_excess_cents",
            "mean_excess_cents",
            "max_excess_cents",
        )
        .orderBy("event_type")
    )
