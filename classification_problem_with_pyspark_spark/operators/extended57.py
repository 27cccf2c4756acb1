"""Round-3 extension pack #57: relational division.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — relational division (Codd's eighth operator: "the X related
to ALL members of set S", the for-all quantifier SQL famously lacks a
keyword for, classically rewritten as double-NOT-EXISTS or
count-matching) — re-expressed on the public PySpark DataFrame API over
the driver's testdata.

Hash-parity discipline (round-3 standard): division uses the
count-matching rewrite (|distinct priorities of the customer| =
|priority domain| — pure set cardinalities, no quantifier semantics to
drift).

Scale posture (SURVEY.md §7.6): count-matching division is one
distinct-aggregate + one broadcast scalar compare — the rewrite that
scales (double-NOT-EXISTS nests two correlated anti-joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "subquery_relational_division",
    oracle="""
    WITH domain AS (
        SELECT DISTINCT o_orderpriority AS pr FROM orders
    ),
    dsize AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dom FROM domain),
    per_cust AS (
        SELECT o_custkey AS custkey,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_pr,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_custkey
    )
    SELECT c.custkey, c.n_orders, c.cents
    FROM per_cust c, dsize d
    WHERE c.n_pr = d.n_dom
    ORDER BY custkey
    """,
)
def subquery_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (SURVEY.md §2.7): the customers who have
    placed orders in EVERY priority class present in the data —
    Codd's ÷ operator, the universal quantifier ("for all") that SQL
    never got a keyword for. Completes the subquery family's
    quantifier coverage: EXISTS/NOT EXISTS hold ∃ and ¬∃; this key
    holds ∀ via the count-matching rewrite (a customer divides the
    domain iff its DISTINCT priority count equals the domain size —
    set cardinality algebra, no correlated nesting).

    The domain is data-derived (DISTINCT priorities), so the query
    adapts if the domain grows — exactly how the division semantics
    should behave, and a property the tests pin by recomputing the
    domain independently.

    Exactness: distinct counts and integer cents only.

    Scale: ONE distinct-aggregate over the fact plus a broadcast
    1-row domain size — compare the classical double-NOT-EXISTS
    rewrite, which plans as two nested correlated anti-joins. The
    count-matching form is the one that survives 100 TB, and pinning
    it (not the textbook form) is the point of the key.
    """
    o = load(spark, sf_dir, "orders")
    dsize = o.select("o_orderpriority").distinct().agg(
        F.count("*").alias("n_dom")
    )
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.countDistinct("o_orderpriority").alias("n_pr"),
        F.count("*").alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("cents"),
    )
    return (
        per_cust.crossJoin(F.broadcast(dsize))
        .where(F.col("n_pr") == F.col("n_dom"))
        .select("custkey", "n_orders", "cents")
        .orderBy("custkey")
    )
