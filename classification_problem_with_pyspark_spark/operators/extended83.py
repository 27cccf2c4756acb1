"""Round-3 extension pack #83: SLO error-budget burn.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — SLO error-budget accounting (the SRE-book burn ledger: a 99%
objective grants (1−SLO)·traffic failures per window; spend is tracked
cumulatively) — re-expressed on the public PySpark DataFrame API over
the driver's testdata.

Hash-parity discipline (round-3 standard): budget arithmetic is pure
integers.

Scale posture (SURVEY.md §7.6): the budget ledger is a daily count +
running window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

SLO_PPM = 990_000  # 99.0% objective in micro


@register(
    "events_slo_error_budget",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS errors
        FROM events GROUP BY date_trunc('day', ts)
    ),
    ledger AS (
        SELECT d, n, errors,
               CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
               CAST(SUM(errors) OVER w AS BIGINT) AS cum_errors
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, n, errors,
           CAST((cum_n * {1_000_000 - SLO_PPM}) // 1000000
                AS BIGINT) AS budget_total,
           cum_errors AS budget_spent,
           CAST((cum_n * {1_000_000 - SLO_PPM}) // 1000000
                - cum_errors AS BIGINT) AS budget_remaining,
           cum_errors > (cum_n * {1_000_000 - SLO_PPM}) // 1000000
               AS budget_exhausted
    FROM ledger
    ORDER BY day
    """,
)
def events_slo_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn (SURVEY.md §2.4): a {SLO_PPM / 10_000}%
    success objective grants (1−SLO)·traffic failures; the ledger
    tracks, per day, cumulative traffic, cumulative errors, the
    budget those cumulative volumes grant, the spend, and the
    exhausted flag — the SRE-book burn table that decides whether a
    team ships features or reliability this week. The budget is
    computed from CUMULATIVE traffic (the rolling-window convention),
    so quiet days grant little and the flag cannot be gamed by a
    traffic dip.

    Exactness: integer counts; the budget is one floor division of
    exact integers; the flag is an integer comparison.

    Scale: one daily conditional count + a running window over the
    calendar-bounded series. Burn ledgers run hourly in production;
    this is why they can.
    """
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("errors"),
        )
    )
    ledger = grid_cumsum(
        daily,
        ["d"],
        [("cum_n", "n"), ("cum_errors", "errors")],
        keep=["d", "n", "errors"],
    )
    ppm_fail = 1_000_000 - SLO_PPM
    return ledger.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        "errors",
        F.expr(f"CAST((cum_n * {ppm_fail}) DIV 1000000 AS BIGINT)").alias(
            "budget_total"
        ),
        F.col("cum_errors").cast("long").alias("budget_spent"),
        F.expr(
            f"CAST((cum_n * {ppm_fail}) DIV 1000000 - cum_errors AS BIGINT)"
        ).alias("budget_remaining"),
        F.expr(f"cum_errors > (cum_n * {ppm_fail}) DIV 1000000").alias(
            "budget_exhausted"
        ),
    ).orderBy("day")
