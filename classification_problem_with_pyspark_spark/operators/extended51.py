"""Round-3 extension pack #51: largest-remainder allocation join.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — largest-remainder (Hamilton) apportionment, the standard
answer to "split this integer amount across n lines proportionally and
EXACTLY" (invoice allocation, seat apportionment, cost spreading) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): apportionment is pure
integer arithmetic (floor shares + remainder ranks under a
(remainder DESC, linenumber) total order — conservation is exact by
construction and asserted in tests).

Scale posture (SURVEY.md §7.6): one window pass inside the natural
(orderkey) partitioning — no join at all, the "bridge table" is the
lineitem itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "join_largest_remainder_allocation",
    oracle="""
    WITH lines AS (
        SELECT l.l_orderkey AS k, l.l_linenumber AS ln,
               CAST(l.l_quantity AS BIGINT) AS q,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS t_cents
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    sized AS (
        SELECT k, ln, q, t_cents,
               CAST(SUM(q) OVER (PARTITION BY k) AS BIGINT) AS q_tot
        FROM lines
    ),
    floored AS (
        SELECT k, ln, q, t_cents, q_tot,
               (t_cents * q) // q_tot AS floor_cents,
               (t_cents * q) % q_tot AS rem
        FROM sized
    ),
    ranked AS (
        SELECT *,
               CAST(t_cents - SUM(floor_cents) OVER (PARTITION BY k)
                    AS BIGINT) AS deficit,
               row_number() OVER (PARTITION BY k
                                  ORDER BY rem DESC, ln, q DESC) AS rk
        FROM floored
    )
    SELECT k AS orderkey, CAST(ln AS BIGINT) AS linenumber,
           CAST(q AS BIGINT) AS quantity,
           CAST(floor_cents + CASE WHEN rk <= deficit THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents
    FROM ranked
    ORDER BY orderkey, linenumber
    """,
)
def join_largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) allocation (SURVEY.md §2.3): split
    each order's total cents across its lineitems proportional to
    quantity so the per-line integers sum EXACTLY to the order total —
    floor shares first, then one extra cent to the lines with the
    largest remainders under the (remainder DESC, linenumber,
    quantity DESC) order — linenumber alone is NOT unique in this
    fixture (duplicate line numbers exist within an order), and rows
    that still tie after all three keys are bit-identical, so either
    bump assignment yields the same relation multiset. The invoice-allocation / cost-spreading primitive every
    finance mart needs and naive rounding silently breaks (a
    per-line round() can drift an order by ±n/2 cents; the remainder
    rank repairs it deterministically). Conservation — SUM(alloc) =
    order total, per order, exactly — is the tested theorem.

    Exactness: t·q fits BIGINT comfortably (cents ≤ ~5e7, q ≤ 50);
    everything is integer floor/mod/rank; remainder ties break by
    (linenumber, quantity DESC), and residual ties only occur between
    identical rows (multiset-equal either way).

    Scale: the fact already clusters by orderkey — the whole
    apportionment is two windows INSIDE one (orderkey) partitioning
    plus the dim-side broadcast of order totals (here an equi-join on
    the order key; co-partitioned/bucketed at real scale). No
    cross-order data movement; AQE handles order-size skew.
    """
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("t_cents"),
    )
    w_ord = Window.partitionBy("k")
    sized = li.join(o, "k").withColumn("q_tot", F.sum("q").over(w_ord))
    floored = sized.select(
        "k",
        "ln",
        "q",
        "t_cents",
        "q_tot",
        F.expr("(t_cents * q) DIV q_tot").alias("floor_cents"),
        F.expr("(t_cents * q) % q_tot").alias("rem"),
    )
    w_rk = Window.partitionBy("k").orderBy(F.desc("rem"), "ln", F.desc("q"))
    ranked = floored.select(
        "*",
        (F.col("t_cents") - F.sum("floor_cents").over(w_ord))
        .cast("long")
        .alias("deficit"),
        F.row_number().over(w_rk).alias("rk"),
    )
    return ranked.select(
        F.col("k").alias("orderkey"),
        F.col("ln").cast("long").alias("linenumber"),
        F.col("q").alias("quantity"),
        (
            F.col("floor_cents")
            + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_cents"),
    ).orderBy("orderkey", "linenumber")
