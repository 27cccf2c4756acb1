"""Round-3 extension pack #89: proportional stratified allocation.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — proportional stratified allocation (nₕ ∝ Nₕ with the
rounding repaired so Σnₕ equals the budget exactly — the
survey-sampling workhorse before Neyman weighting) — re-expressed on
the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): allocation uses floor shares
+ the pack-51 largest-remainder bump under a (remainder DESC, stratum)
total order.

Scale posture (SURVEY.md §7.6): allocation runs on the per-stratum
count table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_rank
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

SAMPLE_BUDGET = 100  # total stratified-sample size to allocate


@register(
    "agg_proportional_allocation",
    oracle=f"""
    WITH strata AS (
        SELECT lang AS stratum, CAST(COUNT(*) AS BIGINT) AS n_h
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_h) AS BIGINT) AS n FROM strata),
    floored AS (
        SELECT s.stratum, s.n_h,
               ({SAMPLE_BUDGET} * s.n_h) // t.n AS base,
               ({SAMPLE_BUDGET} * s.n_h) % t.n AS rem
        FROM strata s, tot t
    ),
    bumped AS (
        SELECT *,
               CAST({SAMPLE_BUDGET} - SUM(base) OVER () AS BIGINT) AS deficit,
               row_number() OVER (ORDER BY rem DESC, stratum) AS rk
        FROM floored
    )
    SELECT stratum, n_h,
           CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
               AS n_allocated
    FROM bumped
    ORDER BY stratum
    """,
)
def agg_proportional_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional stratified allocation (SURVEY.md §2.4): split a
    sample budget of {SAMPLE_BUDGET} across language strata in
    proportion to their population — floor shares first, then the
    largest-remainder bump under (remainder DESC, stratum) so
    Σnₕ = budget EXACTLY (Hamilton again; the pack-51 discipline
    reapplied to survey sampling, where naive rounding either
    over-spends the budget or silently drops a stratum). The
    allocation table is what `llm_sample_stratified` executes; this
    key pins the SIZING step those samplers consume.

    Exactness: integer floor/mod/rank; conservation is the theorem.

    Scale: runs entirely on the per-stratum count table — one corpus
    aggregate, then |strata|-row arithmetic.
    """
    strata = (
        load(spark, sf_dir, "documents")
        .groupBy(F.col("lang").alias("stratum"))
        .agg(F.count("*").alias("n_h"))
    )
    tot = strata.agg(F.sum("n_h").cast("long").alias("n"))
    floored = strata.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_h",
        F.expr(f"({SAMPLE_BUDGET} * n_h) DIV n").alias("base"),
        F.expr(f"({SAMPLE_BUDGET} * n_h) % n").alias("rem"),
    )
    base_tot = floored.agg(
        (F.lit(SAMPLE_BUDGET) - F.sum("base")).cast("long").alias("deficit")
    )
    return (
        grid_rank(
            floored.crossJoin(F.broadcast(base_tot)),
            [F.desc("rem"), "stratum"],
            "rk",
        )
        .select("stratum", "n_h", "base", "deficit", "rk")
        .select(
            "stratum",
            "n_h",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_allocated"),
        )
        .orderBy("stratum")
    )
