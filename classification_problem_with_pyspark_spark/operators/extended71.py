"""Round-3 extension pack #71: exact p-chart control limits.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the Shewhart p-chart (daily proportion with 3σ binomial
control limits, the SPC workhorse for defect-rate monitoring) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): the p-chart's out-of-control
test is decided ENTIRELY in integers by cross-multiplying the 3σ
inequality — (x_d·N − n_d·X)²·N >
9·X·(N−X)·n_d·N... reduced to (x_d·N − n_d·X)² > 9·X·(N−X)·n_d — so
the chart's verdicts carry no float at all (the plotted limits ride
along as ROUND-6 doubles for the humans).

Scale posture (SURVEY.md §7.6): the p-chart is a daily conditional
count + a broadcast of the global center line — a counting job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

DEFECT_GATE = 400  # a "defect" event: value > 400 (rare-ish)


@register(
    "events_p_chart_control_limits",
    oracle=f"""
    WITH flags AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CASE WHEN value > {DEFECT_GATE} THEN 1 ELSE 0 END AS defect
        FROM events
    ),
    daily AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n_d,
               CAST(SUM(defect) AS BIGINT) AS x_d
        FROM flags GROUP BY d
    ),
    center AS (
        SELECT CAST(SUM(n_d) AS BIGINT) AS n, CAST(SUM(x_d) AS BIGINT) AS x
        FROM daily
    )
    SELECT strftime(dy.d, '%Y-%m-%d') AS day, dy.n_d, dy.x_d,
           CAST((1000000 * dy.x_d) // dy.n_d AS BIGINT) AS p_micro,
           CAST((1000000 * ce.x) // ce.n AS BIGINT) AS center_micro,
           -- the 3σ verdict, decided in EXACT integers by squaring the
           -- inequality |x_d·N − n_d·X| > 3·√(X(N−X)n_d) · ... cross-mul
           (dy.x_d * ce.n - dy.n_d * ce.x)
               * (dy.x_d * ce.n - dy.n_d * ce.x)
               > 9 * ce.x * (ce.n - ce.x) * dy.n_d AS out_of_control,
           ROUND(3.0 * sqrt(CAST(ce.x AS DOUBLE) / ce.n
                            * (1.0 - CAST(ce.x AS DOUBLE) / ce.n)
                            / dy.n_d), 6) AS sigma3_halfwidth
    FROM daily dy, center ce
    ORDER BY day
    """,
)
def events_p_chart_control_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart (SURVEY.md §2.4): the daily defect proportion
    (value > {DEFECT_GATE}) against 3σ binomial control limits around
    the overall center line p̄ — the SPC chart quality teams run on
    every rate. The out-of-control VERDICT is decided in exact
    integers: squaring |p̂_d − p̄| > 3·√(p̄(1−p̄)/n_d) and
    cross-multiplying by n_d·N² reduces to
    (x_d·N − n_d·X)² > 9·X·(N−X)·n_d — so the flag every alert fires
    on carries no floating point at all, while the plotted half-width
    rides along as a ROUND-6 double for the chart itself. An exact
    inequality can never flap at the limit the way a float
    recomputation can — that is the entire reason to fold it.

    Exactness: integer counts; the verdict is an integer comparison
    (magnitudes: (x·N − n·X)² ≲ 1.3e13 at sf0.01 — far inside int64,
    and ≲ 1.3e17 at sf1).

    Scale: one daily conditional count + a broadcast center line —
    the chart costs one scan, and SPC only works if it runs daily.
    """
    flags = load(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
        F.when(F.col("value") > DEFECT_GATE, 1).otherwise(0).alias("defect"),
    )
    daily = flags.groupBy("d").agg(
        F.count("*").alias("n_d"), F.sum("defect").cast("long").alias("x_d")
    )
    center = daily.agg(
        F.sum("n_d").cast("long").alias("n"),
        F.sum("x_d").cast("long").alias("x"),
    )
    return (
        daily.crossJoin(F.broadcast(center))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_d",
            "x_d",
            F.expr("CAST((1000000 * x_d) DIV n_d AS BIGINT)").alias("p_micro"),
            F.expr("CAST((1000000 * x) DIV n AS BIGINT)").alias("center_micro"),
            F.expr(
                "(x_d * n - n_d * x) * (x_d * n - n_d * x)"
                " > 9 * x * (n - x) * n_d"
            ).alias("out_of_control"),
            F.round(
                3.0
                * F.sqrt(
                    F.col("x").cast("double")
                    / F.col("n")
                    * (1.0 - F.col("x").cast("double") / F.col("n"))
                    / F.col("n_d")
                ),
                6,
            ).alias("sigma3_halfwidth"),
        )
        .orderBy("day")
    )
