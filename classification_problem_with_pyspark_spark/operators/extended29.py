"""Round-3 extension pack #29: ledger reconciliation audit.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — financial order-vs-lines reconciliation (the breaks report
every billing system runs) — re-expressed on the public PySpark
DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): money is exact cents; break
magnitudes are BIGINT.

Scale posture (SURVEY.md §7.6): reconciliation is the order-keyed join
the billing pipeline pays anyway plus a 3-row rollup and a top-20
TakeOrdered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

BREAK_TOLERANCE_CENTS = 100  # |order total − Σ lines| beyond this is a break


@register(
    "audit_order_reconciliation",
    oracle=f"""
    WITH l AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 100) AS BIGINT))
                    AS BIGINT) AS lines_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_orderkey, o.o_orderstatus,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS order_cents,
               l.lines_cents
        FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (lines_cents IS NULL) AS BIGINT)
               AS n_missing_lines,
           CAST(count(*) FILTER (lines_cents IS NOT NULL
                 AND abs(order_cents - lines_cents)
                     > {BREAK_TOLERANCE_CENTS}) AS BIGINT) AS n_breaks,
           CAST(COALESCE(SUM(abs(order_cents - lines_cents))
                         FILTER (lines_cents IS NOT NULL), 0) AS BIGINT)
               AS sum_abs_break_cents,
           CAST(COALESCE(MAX(abs(order_cents - lines_cents))
                         FILTER (lines_cents IS NOT NULL), 0) AS BIGINT)
               AS max_abs_break_cents
    FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def audit_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-vs-lineitems reconciliation report (SURVEY.md §2.4 audit
    family): per order status, how many orders have NO lines at all,
    how many break the cent-tolerance against the billing formula
    Σ extendedprice·(1−disc)·(1+tax), and the break magnitudes — the
    daily breaks report of any billing ledger. On this synthetic corpus
    the header totals are generated independently of the lines, so the
    audit (truthfully) reports a 100% break rate and 257 line-less
    orders at sf0.01 — surfacing exactly that kind of systemic
    inconsistency is what the report exists for.

    Exactness: both sides fold to exact cents at the data's 2-decimal
    precision before differencing; all counts/magnitudes are BIGINTs.

    Scale: one order-keyed aggregate of lineitem + the header join the
    pipeline pays anyway; the report is 3 bounded rows.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lines = li.groupBy("l_orderkey").agg(
        F.sum(
            F.expr(
                "CAST(round(l_extendedprice * (1 - l_discount)"
                " * (1 + l_tax) * 100) AS BIGINT)"
            )
        ).alias("lines_cents")
    )
    j = o.join(lines, o.o_orderkey == lines.l_orderkey, "left").select(
        "o_orderstatus",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("order_cents"),
        "lines_cents",
    )
    diff = F.abs(F.col("order_cents") - F.col("lines_cents"))
    has = F.col("lines_cents").isNotNull()
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum((~has).cast("long")).alias("n_missing_lines"),
            F.sum((has & (diff > BREAK_TOLERANCE_CENTS)).cast("long")).alias(
                "n_breaks"
            ),
            F.coalesce(F.sum(F.when(has, diff)), F.lit(0))
            .cast("long")
            .alias("sum_abs_break_cents"),
            F.coalesce(F.max(F.when(has, diff)), F.lit(0))
            .cast("long")
            .alias("max_abs_break_cents"),
        )
        .orderBy("o_orderstatus")
    )
