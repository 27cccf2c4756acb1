"""Round-3 extension pack #78: the NOT IN null trap and the exact
Brier skill score.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — SQL's three-valued NOT IN semantics (one NULL in the
subquery list makes `x NOT IN (...)` UNKNOWN for every x, silently
emptying the result — the most-reported SQL bug class there is, and
the reason style guides mandate NOT EXISTS) and the Brier score with
its skill form (BS = mean (f−o)², Brier 1950; BSS = 1 − BS/BS_ref
against the climatology baseline — the proper-scoring pair
probabilistic forecasting reports) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the trap key computes the
SAME exclusion three ways (NOT IN over a nullable list, NOT EXISTS,
and NOT IN over the null-filtered list) and emits all three counts —
both engines implement ANSI three-valued logic, so the 0 is the
CORRECT answer and the hash pins it; forecasts are md5-derived
integer micro-probabilities, so the Brier sums are exact integers end
to end and BSS is one integer division.

Scale posture (SURVEY.md §7.6): the trap's three legs are anti-join
shapes over the same aggregates (NOT EXISTS plans as the anti-join;
NOT IN with a nullable list CANNOT be planned as one — that plan
difference is the performance half of the lesson); Brier is one
map-side-combinable pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

BRIER_FLIP_MOD = 4  # forecast sharpens toward truth except every 4th row


@register(
    "subquery_not_in_null_trap",
    oracle="""
    WITH probe AS (SELECT DISTINCT c_nationkey AS k FROM customer),
    nullable_list AS (  -- nation keys, with a NULL injected by rule
        SELECT CASE WHEN n_nationkey % 7 = 3 THEN NULL
                    ELSE n_nationkey END AS k
        FROM nation WHERE n_nationkey < 10
    )
    SELECT
        CAST((SELECT COUNT(*) FROM probe
              WHERE k NOT IN (SELECT k FROM nullable_list)) AS BIGINT)
            AS not_in_nullable,
        CAST((SELECT COUNT(*) FROM probe p
              WHERE NOT EXISTS (SELECT 1 FROM nullable_list l
                                WHERE l.k = p.k)) AS BIGINT)
            AS not_exists,
        CAST((SELECT COUNT(*) FROM probe
              WHERE k NOT IN (SELECT k FROM nullable_list
                              WHERE k IS NOT NULL)) AS BIGINT)
            AS not_in_filtered,
        CAST((SELECT COUNT(*) FROM nullable_list WHERE k IS NULL) AS BIGINT)
            AS n_nulls_in_list
    """,
)
def subquery_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap (SURVEY.md §2.7): the same exclusion
    computed three ways against a list containing a NULL — `NOT IN`
    over the nullable list returns ZERO rows (x ≠ NULL is UNKNOWN, so
    no row can prove membership-absence under three-valued logic),
    while `NOT EXISTS` and the null-filtered `NOT IN` agree on the
    real answer. The most-reported SQL bug class there is, pinned as
    a hash-checked fact on BOTH engines: the zero is CORRECT ANSI
    behavior, not a Spark quirk, and the key's columns sit side by
    side so the trap and its two fixes are one SELECT apart.

    Exactness: integer counts; the NULL injection is a key rule.

    Scale: NOT EXISTS plans as a left-anti hash join; NOT IN with a
    nullable list legally CANNOT (the planner must preserve UNKNOWN
    semantics, typically via a null-aware anti-join that degrades to
    broadcast-nested-loop) — the silent wrong-answer class and the
    silent slow-plan class are the same syntax, which is the whole
    lesson.
    """
    probe = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("k"))
        .distinct()
    )
    nullable = (
        load(spark, sf_dir, "nation")
        .where(F.col("n_nationkey") < 10)
        .select(
            F.when(F.col("n_nationkey") % 7 == 3, None)
            .otherwise(F.col("n_nationkey"))
            .alias("k")
        )
    )
    probe.createOrReplaceTempView("_trap_probe")
    nullable.createOrReplaceTempView("_trap_list")
    return load(spark, sf_dir, "nation").sparkSession.sql(
        """
        SELECT
            CAST((SELECT COUNT(*) FROM _trap_probe
                  WHERE k NOT IN (SELECT k FROM _trap_list)) AS BIGINT)
                AS not_in_nullable,
            CAST((SELECT COUNT(*) FROM _trap_probe p
                  WHERE NOT EXISTS (SELECT 1 FROM _trap_list l
                                    WHERE l.k = p.k)) AS BIGINT)
                AS not_exists,
            CAST((SELECT COUNT(*) FROM _trap_probe
                  WHERE k NOT IN (SELECT k FROM _trap_list
                                  WHERE k IS NOT NULL)) AS BIGINT)
                AS not_in_filtered,
            CAST((SELECT COUNT(*) FROM _trap_list WHERE k IS NULL) AS BIGINT)
                AS n_nulls_in_list
        """
    )


@register(
    "ml_brier_skill_exact",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS o,
               -- md5 forecast: sharp toward truth, blunted every 4th row
               CASE WHEN CAST(('0x' || substr(md5('brier_' || CAST(vec_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % {BRIER_FLIP_MOD} = 0
                    THEN 500000
                    WHEN label < 5
                    THEN 700000 + CAST(('0x' || substr(md5('bf_' || CAST(vec_id AS VARCHAR)), 1, 15))
                                       AS BIGINT) % 300000
                    ELSE CAST(('0x' || substr(md5('bf_' || CAST(vec_id AS VARCHAR)), 1, 15))
                              AS BIGINT) % 300000
               END AS f_micro
        FROM embeddings
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o) AS BIGINT) AS pos,
               CAST(SUM((f_micro - 1000000 * o) * (f_micro - 1000000 * o))
                    AS BIGINT) AS sq_sum
        FROM scored
    )
    SELECT n, pos,
           CAST(sq_sum // n AS BIGINT) AS brier_micro2,
           CAST(((1000000 * pos) // n) * ((1000000 * (n - pos)) // n)
                AS BIGINT) AS climatology_micro2_approx,
           CAST((1000000 * (sq_sum // n))
                // (((1000000 * pos) // n)
                    * ((1000000 * (n - pos)) // n)) AS BIGINT)
               AS brier_over_ref_micro
    FROM sums
    """,
)
def ml_brier_skill_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Brier score and skill (SURVEY.md §2.11): BS = mean(f−o)²
    over md5-derived integer micro-probability forecasts (sharp
    toward the truth, deliberately blunted to 0.5 on every
    {BRIER_FLIP_MOD}th row), against the climatology reference
    BS_ref = p̄(1−p̄) — reported as the ratio BS/BS_ref in micro
    (<1e6 ⇔ positive skill). The proper-scoring pair probabilistic
    forecasting quotes; with integer micro forecasts the Brier sum is
    an EXACT integer (squared micro units — "micro²"), and the skill
    ratio is one integer division (BS floored to micro² FIRST so the
    numerator stays inside int64 at any n), so the verdict cannot
    float-drift.

    Exactness: integer micro forecasts and outcomes end to end; the
    climatology term uses the floored micro rates identically on
    both engines (an approximation of p̄(1−p̄) by < 1e-6 — stated).

    Scale: one map-side-combinable pass; proper scores are cheap,
    which is why they should be in every eval sweep.
    """
    y = F.when(F.col("label") < 5, 1).otherwise(0)

    def _h(prefix: str):
        return md5_long(F.concat(F.lit(prefix), F.col("vec_id").cast("string")))

    f_micro = (
        F.when(_h("brier_") % BRIER_FLIP_MOD == 0, 500_000)
        .when(F.col("label") < 5, 700_000 + _h("bf_") % 300_000)
        .otherwise(_h("bf_") % 300_000)
    )
    scored = load(spark, sf_dir, "embeddings").select(
        y.alias("o"), f_micro.alias("f_micro")
    )
    sums = scored.agg(
        F.count("*").alias("n"),
        F.sum("o").cast("long").alias("pos"),
        F.sum(
            (F.col("f_micro") - 1_000_000 * F.col("o"))
            * (F.col("f_micro") - 1_000_000 * F.col("o"))
        )
        .cast("long")
        .alias("sq_sum"),
    )
    return sums.select(
        "n",
        "pos",
        F.expr("CAST(sq_sum DIV n AS BIGINT)").alias("brier_micro2"),
        F.expr(
            "CAST(((1000000 * pos) DIV n) * ((1000000 * (n - pos)) DIV n) "
            "AS BIGINT)"
        ).alias("climatology_micro2_approx"),
        F.expr(
            "CAST((1000000 * (sq_sum DIV n)) "
            "DIV (((1000000 * pos) DIV n) "
            "* ((1000000 * (n - pos)) DIV n)) AS BIGINT)"
        ).alias("brier_over_ref_micro"),
    )
