"""Round-3 extension pack #89: nested learning curves and proportional
stratified allocation.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — learning curves over nested subsamples (accuracy as a
function of training-set size, evaluated on NESTED subsets so the
curve is monotone in information, not resample noise — the
sample-efficiency plot every data-acquisition decision reads) and
proportional stratified allocation (nₕ ∝ Nₕ with the rounding
repaired so Σnₕ equals the budget exactly — the survey-sampling
workhorse before Neyman weighting) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): subset membership is the
md5-percent rule (hash % 100 < f — nested by construction: the 20%
subset contains the 10% one); the evaluated model is the pack-44
stand-in; allocation uses floor shares + the pack-51
largest-remainder bump under a (remainder DESC, stratum) total order.

Scale posture (SURVEY.md §7.6): the curve is one scan with the
subset predicate evaluated per fraction via a broadcast fraction
spine (10 conditional sums — not 10 scans); allocation runs on the
per-stratum count table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_rank
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows

CURVE_FRACTIONS = (10, 20, 30, 40, 50, 60, 70, 80, 90, 100)
CURVE_FLIP_MOD = 4  # the pack-44 stand-in predictor
SAMPLE_BUDGET = 100  # total stratified-sample size to allocate


@register(
    "ml_learning_curve_nested",
    oracle=f"""
    WITH scored AS (
        SELECT vec_id,
               CAST(('0x' || substr(md5('lc_' || CAST(vec_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 100 AS pct,
               CASE WHEN CAST(('0x' || substr(md5('clf_' || CAST(vec_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % {CURVE_FLIP_MOD} = 0
                    THEN 0 ELSE 1 END AS correct
        FROM embeddings
    ),
    fractions AS (
        SELECT unnest([{", ".join(str(f) for f in CURVE_FRACTIONS)}]) AS pct_cap
    )
    SELECT CAST(f.pct_cap AS BIGINT) AS pct_cap,
           CAST(SUM(CASE WHEN s.pct < f.pct_cap THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rows,
           CAST(SUM(CASE WHEN s.pct < f.pct_cap THEN s.correct ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST((1000000 * SUM(CASE WHEN s.pct < f.pct_cap
                                    THEN s.correct ELSE 0 END))
                // SUM(CASE WHEN s.pct < f.pct_cap THEN 1 ELSE 0 END)
                AS BIGINT) AS acc_micro
    FROM scored s CROSS JOIN fractions f
    GROUP BY f.pct_cap
    ORDER BY pct_cap
    """,
)
def ml_learning_curve_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested learning curve (SURVEY.md §2.11): the pack-44 stand-in
    predictor's accuracy evaluated on md5-percent NESTED subsets
    (10% ⊂ 20% ⊂ … ⊂ 100% by construction of the hash-threshold
    rule) — the sample-efficiency table behind every "do we need more
    labels?" decision. Nesting is the methodological point: disjoint
    resamples confound curve shape with resample noise, nested
    subsets isolate the size effect — and the hash rule gives nesting
    for free, which is why hash thresholds are the subsetting
    discipline everywhere in this registry.

    (The stand-in's accuracy is size-independent by construction, so
    the curve is flat up to sampling noise — the HARNESS is the
    product; a real model's (subset, correct) table drops into the
    same spine. The per-fraction row counts grow ~linearly, asserted.)

    Exactness: hash membership, integer counts, floor-micro accuracy.

    Scale: ONE scan with a broadcast fraction spine (10 conditional
    sums), not ten scans — the curve costs what one evaluation costs.
    """
    vec_id = F.col("vec_id").cast("string")
    scored = load(spark, sf_dir, "embeddings").select(
        (md5_long(F.concat(F.lit("lc_"), vec_id)) % 100).alias("pct"),
        F.when(md5_long(F.concat(F.lit("clf_"), vec_id)) % CURVE_FLIP_MOD == 0, 0)
        .otherwise(1)
        .alias("correct"),
    )
    fractions = local_rows(spark, [(f,) for f in CURVE_FRACTIONS], "pct_cap long")
    return (
        scored.crossJoin(F.broadcast(fractions))
        .groupBy("pct_cap")
        .agg(
            F.sum(F.when(F.col("pct") < F.col("pct_cap"), 1).otherwise(0))
            .cast("long")
            .alias("n_rows"),
            F.sum(
                F.when(F.col("pct") < F.col("pct_cap"), F.col("correct")).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN pct < pct_cap THEN correct "
                "ELSE 0 END)) DIV SUM(CASE WHEN pct < pct_cap THEN 1 ELSE 0 "
                "END) AS BIGINT)"
            ).alias("acc_micro"),
        )
        .orderBy("pct_cap")
    )


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
