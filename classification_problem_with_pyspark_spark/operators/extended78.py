"""Round-3 extension pack #78: the NOT IN null trap.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — SQL's three-valued NOT IN semantics (one NULL in the
subquery list makes `x NOT IN (...)` UNKNOWN for every x, silently
emptying the result — the most-reported SQL bug class there is, and
the reason style guides mandate NOT EXISTS) — re-expressed on the
public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the key computes the SAME
exclusion three ways (NOT IN over a nullable list, NOT EXISTS, and NOT
IN over the null-filtered list) and emits all three counts — both
engines implement ANSI three-valued logic, so the 0 is the CORRECT
answer and the hash pins it.

Scale posture (SURVEY.md §7.6): the three legs are anti-join shapes
over the same aggregates (NOT EXISTS plans as the anti-join; NOT IN
with a nullable list CANNOT be planned as one — that plan difference
is the performance half of the lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


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
