"""Round-3 extension pack #64: missing-heartbeat grid detection.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — absence detection over an expected heartbeat grid (the
"which sensor went quiet" query: the signal is the MISSING (entity,
period) cell, found by anti-joining observations against the expected
dense grid) — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-3 standard): the heartbeat grid is
(active users × days present in the data); absences are an anti-join,
and the report pins both the per-user gap count and the global absence
rate.

Scale posture (SURVEY.md §7.6): the heartbeat grid is |users| × |days|
(entity×calendar — bounded), built by cross join of two small distinct
sets, with the observation side reduced to distinct (user, day) BEFORE
the anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "events_missing_heartbeat_grid",
    oracle="""
    WITH obs AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ),
    users AS (SELECT DISTINCT user_id FROM obs),
    days AS (SELECT DISTINCT d FROM obs),
    grid AS (SELECT u.user_id, dy.d FROM users u CROSS JOIN days dy),
    missing AS (
        SELECT g.user_id, g.d
        FROM grid g
        LEFT JOIN obs o ON o.user_id = g.user_id AND o.d = g.d
        WHERE o.user_id IS NULL
    )
    SELECT u.user_id,
           CAST((SELECT COUNT(*) FROM days) AS BIGINT) AS n_expected_days,
           CAST(COALESCE(m.n_missing, 0) AS BIGINT) AS n_missing_days,
           CAST((1000000 * COALESCE(m.n_missing, 0))
                // (SELECT COUNT(*) FROM days) AS BIGINT) AS absence_micro
    FROM users u
    LEFT JOIN (
        SELECT user_id, COUNT(*) AS n_missing FROM missing GROUP BY user_id
    ) m ON m.user_id = u.user_id
    ORDER BY u.user_id
    """,
)
def events_missing_heartbeat_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-heartbeat detection (SURVEY.md §2.4): every active user
    is expected to emit at least one event on every day the system
    was live; the finding is the ABSENT (user, day) cell — the "which
    sensor went quiet, and how often" query, where the signal is what
    is NOT in the table. Found by anti-joining distinct observations
    against the dense user×day expectation grid; reported per user as
    missing-day count and absence rate (zero-gap users included —
    "fully present" is a finding too).

    Exactness: set membership and integer counts only.

    Scale: observations reduce to DISTINCT (user, day) BEFORE any
    join (the fact table's volume never reaches the grid); the grid
    itself is entity × calendar — bounded, broadcast-friendly — and
    the anti-join is the standard absence plan. The inverted query
    ("find what's missing") is exactly why expectation grids exist:
    you cannot scan for rows that were never written.
    """
    obs = (
        load(spark, sf_dir, "events")
        .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .distinct()
    )
    users = obs.select("user_id").distinct()
    days = obs.select("d").distinct()
    grid = users.crossJoin(F.broadcast(days))
    missing = grid.join(obs, ["user_id", "d"], "left_anti")
    n_days = days.agg(F.count("*").alias("n_expected_days"))
    per_user = missing.groupBy("user_id").agg(
        F.count("*").alias("n_missing")
    )
    return (
        users.join(per_user, "user_id", "left")
        .crossJoin(F.broadcast(n_days))
        .select(
            "user_id",
            F.col("n_expected_days").cast("long").alias("n_expected_days"),
            F.coalesce("n_missing", F.lit(0)).cast("long").alias("n_missing_days"),
            F.expr(
                "CAST((1000000 * COALESCE(n_missing, 0)) DIV n_expected_days "
                "AS BIGINT)"
            ).alias("absence_micro"),
        )
        .orderBy("user_id")
    )
