"""Round-3 extension pack #96: comb-filter periodicity detection.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — comb-filter periodicity detection (score each candidate
period by how much the series' mass separates across its residue
classes — the FFT-free way to find "is there a weekly cycle", which is
all a calendar series usually asks) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): periodicity scores fold
per-class floor divisions of exact integer sums — deterministic
identically on both engines — and the argmax period is a total order.

Scale posture (SURVEY.md §7.6): the comb scan is |periods| × |days|
arithmetic over the calendar-bounded daily series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_rank
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

COMB_MIN_P = 2
COMB_MAX_P = 14


@register(
    "events_periodicity_comb",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY date_trunc('day', ts)
    ),
    idx AS (
        SELECT x, row_number() OVER (ORDER BY d) - 1 AS i FROM daily
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM idx
    ),
    combs AS (
        SELECT p.p, idx.i % p.p AS r,
               CAST(SUM(idx.x) AS BIGINT) AS s_r,
               CAST(COUNT(*) AS BIGINT) AS n_r
        FROM (SELECT unnest(range({COMB_MIN_P}, {COMB_MAX_P + 1})) AS p) p
        CROSS JOIN idx
        GROUP BY p.p, idx.i % p.p
    ),
    scores AS (  -- between-class concentration, floor-folded per class
        SELECT c.p,
               CAST(SUM((c.s_r * c.s_r) // c.n_r) - (t.s * t.s) // t.n
                    AS BIGINT) AS comb_score
        FROM combs c, tot t
        GROUP BY c.p, t.s, t.n
    )
    SELECT CAST(p AS BIGINT) AS period, comb_score,
           CAST(comb_score // (p - 1) AS BIGINT) AS score_per_df,
           CAST(rk AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (ORDER BY comb_score // (p - 1) DESC, p)
                   AS rk
        FROM scores
    ) z
    ORDER BY rank
    """,
)
def events_periodicity_comb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comb-filter periodicity (SURVEY.md §2.4): score every candidate
    period p ∈ [{COMB_MIN_P}, {COMB_MAX_P}] by how much the daily
    series' mass CONCENTRATES across p residue classes —
    Σᵣ Sᵣ²/nᵣ − S²/n, the between-class sum of squares, maximal when
    the series repeats with period p — and rank the periods by
    score PER DEGREE OF FREEDOM (raw BSS grows mechanically with the
    class count — the first draft ranked p = 13 above the true weekly
    pulse until the (p−1) normalization; the bias and its fix are the
    key's real lesson). The FFT-free periodogram for calendar
    questions, and on this fixture the df-normalized board puts p = 7
    first (asserted).

    Per-class terms fold floor integer division (deterministic
    identically on both engines — the score is a detector, and floor
    noise of < p units cannot reorder real structure); the period
    ranking is a total order.

    Scale: the fact reduces to the daily series first; the comb scan
    is |periods| × |days| integer arithmetic — a few hundred
    operations regardless of fact volume.
    """
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(F.count("*").alias("x"))
    )
    idx = (
        grid_rank(daily, ["d"], "rn")
        .select("x", (F.col("rn") - 1).alias("i"))
        .localCheckpoint(eager=True)
    )
    tot = idx.agg(
        F.count("*").alias("n"), F.sum("x").cast("long").alias("s")
    )
    periods = spark.range(COMB_MIN_P, COMB_MAX_P + 1).select(
        F.col("id").cast("long").alias("p")
    )
    combs = (
        F.broadcast(periods)
        .crossJoin(idx)
        .groupBy("p", (F.col("i") % F.col("p")).alias("r"))
        .agg(
            F.sum("x").cast("long").alias("s_r"),
            F.count("*").alias("n_r"),
        )
    )
    scores = (
        combs.crossJoin(F.broadcast(tot))
        .groupBy("p", "s", "n")
        .agg(
            F.sum(F.expr("(s_r * s_r) DIV n_r")).cast("long").alias("per_class")
        )
        .select(
            "p",
            (F.col("per_class") - F.expr("(s * s) DIV n"))
            .cast("long")
            .alias("comb_score"),
        )
    )
    scored = scores.withColumn(
        "score_per_df", F.expr("comb_score DIV (p - 1)").cast("long")
    )
    return (
        grid_rank(scored, [F.desc("score_per_df"), "p"], "rank")
        .select(
            F.col("p").cast("long").alias("period"),
            "comb_score",
            "score_per_df",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("rank")
    )
