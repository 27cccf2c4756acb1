"""Round-3 extension pack #23: Kaplan-Meier survival curves.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the Kaplan-Meier product-limit estimator (Kaplan & Meier
1958) — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-3 standard): the survival curve ships as
the Nelson-Aalen cumulative hazard — a pure integer prefix sum — after
the multi-SF slice caught a 1-ulp libm divergence in a first-cut
micro-nat ln formulation (see the key's docstring).

Scale posture (SURVEY.md §7.6): the KM curve does one user-keyed
aggregate over the fact table and everything after runs on the bounded
per-duration grid (≤ observation-window hours rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

# web-corpus doc lengths; 8 matches this corpus' 10..99-token docs)


STUDY_HOURS = 100  # administrative censoring horizon after first enrollment


@register(
    "events_kaplan_meier",
    oracle=f"""
    WITH bounds AS (
        SELECT epoch_us(min(ts)) + {STUDY_HOURS} * 3600000000 AS se
        FROM events
    ),
    u AS (
        SELECT user_id,
               epoch_us(min(ts)) AS enroll,
               epoch_us(min(ts) FILTER (event_type = 'purchase')) AS fp
        FROM events GROUP BY user_id
    ),
    dur AS (
        SELECT CASE WHEN fp IS NOT NULL AND fp <= se
                    THEN (fp - enroll) // 3600000000
                    ELSE (se - enroll) // 3600000000 END AS t_hours,
               CASE WHEN fp IS NOT NULL AND fp <= se THEN 1 ELSE 0 END AS ev
        FROM u, bounds
    ),
    grid AS (
        SELECT t_hours,
               CAST(SUM(ev) AS BIGINT) AS n_events,
               CAST(SUM(1 - ev) AS BIGINT) AS n_censored,
               CAST(count(*) AS BIGINT) AS n_arrived
        FROM dur GROUP BY t_hours
    ),
    risk AS (
        SELECT t_hours, n_events, n_censored,
               SUM(n_arrived) OVER (ORDER BY t_hours
                                    ROWS BETWEEN CURRENT ROW
                                    AND UNBOUNDED FOLLOWING) AS n_risk
        FROM grid
    ),
    steps AS (
        SELECT t_hours, n_risk, n_events, n_censored,
               (1000000 * n_events) // n_risk AS hazard_micro
        FROM risk WHERE n_events > 0
    )
    SELECT t_hours, CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
           CAST(hazard_micro AS BIGINT) AS hazard_micro,
           CAST(SUM(hazard_micro) OVER (ORDER BY t_hours
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT)
               AS na_cum_hazard_micro
    FROM steps ORDER BY t_hours
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve (SURVEY.md §2.13):
    time from each user's first event (enrollment) to first purchase,
    administratively right-censored STUDY_HOURS (100) hours after the
    FIRST enrollment in the dataset — at sf0.01 that yields 133 conversion
    events and 17 censored users, i.e. real mixed-risk-set KM mechanics,
    not a degenerate empirical CDF.

    Exactness: durations are integer epoch-MICROsecond differences
    (epoch_us / unix_micros) floor-divided to hours. Two divergence
    classes were caught and removed here by the multi-SF slice: DuckDB's
    boundary-crossing date_diff('hour') vs Spark's elapsed-time
    timestampdiff, and — subtler — CAST(epoch(ts) AS BIGINT) ROUNDS
    DuckDB's fractional-second double while unix_timestamp TRUNCATES, so
    second-level epochs flip hour buckets for users near a boundary
    (every ts in this corpus carries fractional seconds).
    n_risk comes from a reverse cumulative
    window (no non-equi self-join); the hazard is exact floor-micro and
    the curve column is the NELSON-AALEN cumulative hazard — a prefix
    sum of the exact integer hazards (KM survival ≈ exp(-H) for the
    consumer). A first cut emitted round(1e6·ln(1-d/n)) micro-nat
    log-survival instead; the multi-SF slice caught a 1-ulp Java-vs-C
    libm divergence at sf0.1 flipping one round() and shifting the whole
    cumulative tail by 1 — the cumulative-hazard form removes every
    transcendental from the contract instead of shrinking the boundary.

    Scale: the only fact-sized shuffle is the per-user min/min-filtered
    aggregate (map-side combinable); the grid/window stages run on a
    bounded per-hour grid (at most STUDY_HOURS + observation-span rows).
    """
    e = load(spark, sf_dir, "events")
    se = e.agg(
        (F.min(F.unix_micros("ts")) + STUDY_HOURS * 3600000000).alias("se")
    )
    u = e.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("enroll"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("fp"),
    )
    is_ev = F.col("fp").isNotNull() & (F.col("fp") <= F.col("se"))
    dur = u.crossJoin(F.broadcast(se)).select(
        F.when(is_ev, F.expr("(fp - enroll) DIV 3600000000"))
        .otherwise(F.expr("(se - enroll) DIV 3600000000"))
        .alias("t_hours"),
        is_ev.cast("long").alias("ev"),
    )
    grid = dur.groupBy("t_hours").agg(
        F.sum("ev").alias("n_events"),
        F.sum(1 - F.col("ev")).alias("n_censored"),
        F.count("*").alias("n_arrived"),
    )
    # at-risk count = arrivals at t_hours >= current: the reverse cumsum
    # is the forward cumsum under DESC order (t_hours is distinct post-agg)
    risk = grid_cumsum(
        grid,
        [F.desc("t_hours")],
        [("n_risk", "n_arrived")],
        keep=["t_hours", "n_events", "n_censored"],
    )
    steps = risk.where(F.col("n_events") > 0).select(
        "t_hours",
        F.col("n_risk").cast("long").alias("n_risk"),
        "n_events",
        "n_censored",
        F.expr("(1000000 * n_events) DIV n_risk").alias("hazard_micro"),
    )
    return (
        grid_cumsum(
            steps,
            ["t_hours"],
            [("na_raw", "hazard_micro")],
            keep=["t_hours", "n_risk", "n_events", "n_censored", "hazard_micro"],
        )
        .select(
            "t_hours",
            "n_risk",
            "n_events",
            "n_censored",
            "hazard_micro",
            F.col("na_raw").cast("long").alias("na_cum_hazard_micro"),
        )
        .orderBy("t_hours")
    )
