"""Round-1 extension pack #3: the remaining classic TPC-H query shapes
(Q4/Q8/Q9/Q10/Q12/Q15/Q16/Q17/Q20/Q21 analogs), adapted to the driver's
TPC-H-ish testdata (no partsupp table, no commit/receipt dates, no
shipmode — see FIXTURES.md), plus training-pipeline and event-analytics
additions: deterministic hash-based dataset splits, per-lang curriculum
staging, event-type Markov transitions, and inter-arrival statistics.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session, so
no file:line citations into it are possible; each operator cites the SURVEY
§2 row it implements. All query shapes are public knowledge (TPC-H spec
shapes, standard SQL idioms) re-expressed on the driver's testdata schema.

Scale posture (SURVEY.md §7.5-7.6), uniform across this module:
- money/measure sums are EXACT DECIMAL sums cast to double at the end;
- correlated scalar subqueries become per-key aggregates joined back
  (Catalyst's own decorrelation shape) with exact-integer rewrites of
  float comparisons where possible (Q17's 5*qty*cnt < sum trick);
- EXISTS over self-joins becomes per-key aggregate flags (Q21) — one
  shuffle on the key instead of two self-joins;
- dimension sides broadcast explicitly; windows partition by user/lang,
  never global; no collect(), no Python row-UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

_D = "decimal(18,2)"


def _net(ep_col: str = "l_extendedprice", disc_col: str = "l_discount"):
    """Exact decimal net revenue term: extendedprice * (1 - discount)."""
    return F.col(ep_col).cast(_D) * (F.lit(1) - F.col(disc_col).cast(_D))


_NET_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS-correlated priority count
# ---------------------------------------------------------------------------


@register(
    "subquery_exists_late_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def subquery_exists_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: count orders per priority having a late shipment
    (EXISTS correlated on both the key and a date comparison).

    Adaptation: testdata has no l_commitdate/l_receiptdate, so "late" is
    l_shipdate > o_orderdate + 60 days. The EXISTS decorrelates to a
    LEFT SEMI join whose condition carries the date predicate; the orders
    side is date-pruned at the scan, so only six months of orders shuffle.
    """
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: national market share
# ---------------------------------------------------------------------------


@register(
    "join_market_share",
    oracle="""
    SELECT o_year,
           CAST(SUM(nation_vol) AS DOUBLE) AS nation_volume,
           CAST(SUM(vol) AS DOUBLE) AS total_volume,
           ROUND(CAST(SUM(nation_vol) AS DOUBLE)
                 / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
               {net} AS vol,
               CASE WHEN n2.n_name = 'NATION_5' THEN {net}
                    ELSE CAST(0 AS DECIMAL(18,2)) END AS nation_vol
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
    ) sub
    GROUP BY o_year
    """.format(net=_NET_SQL),
)
def join_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of regional revenue by
    order year (8-table star join with two roles for `nation`).

    Every non-fact table (part, customer, supplier, nation x2, region) is
    broadcast, so the only shuffle is lineitem joins orders on orderkey
    followed by a tiny per-year aggregate. Share = exact decimal sums,
    divided in double and rounded — identical expression both engines.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")

    vol = _net().alias("vol")
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol,
            F.when(F.col("supp_nation") == "NATION_5", _net())
            .otherwise(F.lit(0).cast(_D))
            .alias("nation_vol"),
        )
    )
    return joined.groupBy("o_year").agg(
        F.sum("nation_vol").cast("double").alias("nation_volume"),
        F.sum("vol").cast("double").alias("total_volume"),
        F.round(
            F.sum("nation_vol").cast("double") / F.sum("vol").cast("double"), 6
        ).alias("mkt_share"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: product-line profit by nation and year
# ---------------------------------------------------------------------------


@register(
    "join_product_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM({net}
                    - CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)
    """.format(net=_NET_SQL),
)
def join_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per (supplier nation, order year) for parts
    matching a name pattern.

    Adaptation: no partsupp table, so unit cost is p_retailprice (the
    only cost-like column); profit = net revenue - retailprice*quantity,
    every term an exact decimal. part/supplier/nation broadcast; the
    fact-fact lineitem-orders join is the single shuffle.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    profit_term = _net() - F.col("p_retailprice").cast(_D) * F.col("l_quantity").cast(_D)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit_term).cast("double").alias("profit"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: top returned-revenue customers
# ---------------------------------------------------------------------------


@register(
    "topk_returned_revenue",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM({net}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """.format(net=_NET_SQL),
)
def topk_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    quarter.

    customer/nation broadcast; orders is date-pruned before its join; the
    aggregate output is one row per customer, so the ORDER BY + LIMIT
    plans as TakeOrderedAndProject (per-partition top-20, merged at the
    driver — no global sort). Exact decimal revenue; c_custkey breaks
    any revenue tie deterministically.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_net()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: late shipments by line status x priority class
# ---------------------------------------------------------------------------


@register(
    "agg_late_linestatus_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def agg_late_linestatus_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts of high/low-priority orders
    among late shipments, grouped by a line attribute.

    Adaptation: no l_shipmode column, so the group key is l_linestatus
    and "late" is ship > order + 30 days. All-integer conditional counts
    (no float hazard); the ship-date range is pushed to the parquet scan
    before the single orderkey shuffle.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: supplier(s) with maximum quarterly revenue
# ---------------------------------------------------------------------------


@register(
    "subquery_max_supplier_revenue",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               SUM({net}) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN rev ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """.format(net=_NET_SQL),
)
def subquery_max_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose quarterly revenue equals the
    maximum over all suppliers (scalar MAX subquery against a derived
    aggregate, keeping ties).

    The revenue aggregate is one shuffle over the date-pruned scan; its
    1-row MAX is broadcast back (cross join of a single row), so the
    equality filter never reshuffles. Revenue is an exact decimal sum, so
    cross-engine equality-with-max is exact, not float-fragile.
    """
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_net()).alias("total_rev")
    )
    max_rev = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_rev == max_rev.max_rev)
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: supplier variety per part descriptor
# ---------------------------------------------------------------------------


@register(
    "agg_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def agg_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers serve each part
    descriptor, excluding a NOT-IN supplier blacklist.

    Adaptation: no partsupp table, so the part-supplier association comes
    from lineitem; the "customer complaints" exclusion becomes suppliers
    with negative account balance. The blacklist is a broadcast LEFT ANTI
    join (NOT IN with non-nullable keys); part is broadcast; the only
    shuffle is the distinct-count on the filtered fact.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
    )
    bad = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: revenue of small-quantity orders
# ---------------------------------------------------------------------------


@register(
    "subquery_small_qty_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
               AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS a_pk,
                 SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_q,
                 COUNT(*) AS cnt_q
          FROM lineitem GROUP BY l_partkey) a ON a_pk = l_partkey
    WHERE p_brand = 'Brand#3'
      AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt_q < sum_q
    """,
)
def subquery_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    20% of the part's average quantity (correlated scalar AVG subquery).

    The float-hazardous `qty < 0.2 * AVG(qty)` is rewritten as the exact
    integer/decimal inequality `5 * qty * cnt < sum` — no division, no
    float, identical truth value on both engines. The per-part aggregate
    is decorrelated to a groupBy joined back on partkey; both the fact
    and the aggregate input are pre-filtered to Brand#3 parts via the
    broadcast part dim (legal because the join restricts to those parts
    anyway), so the shuffle carries ~1/25 of lineitem.
    """
    p = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    li = load(spark, sf_dir, "lineitem").join(
        F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("a_pk")).agg(
        F.sum(F.col("l_quantity").cast(_D)).alias("sum_q"),
        F.count("*").alias("cnt_q"),
    )
    small = li.join(per_part, F.col("l_partkey") == F.col("a_pk")).where(
        F.col("l_quantity").cast(_D) * 5 * F.col("cnt_q") < F.col("sum_q")
    )
    return small.agg(
        (F.sum(F.col("l_extendedprice").cast(_D)).cast("double") / F.lit(7.0)).alias(
            "avg_yearly"
        ),
        F.count("*").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: suppliers with excess shipments of a part family
# ---------------------------------------------------------------------------


@register(
    "subquery_excess_shipped_suppliers",
    oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'red%'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50
    )
    """,
)
def subquery_excess_shipped_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than a threshold of a
    part family in a year (IN-subquery over a HAVING aggregate).

    Adaptation: no partsupp availability data, so the inner threshold is
    on shipped quantity. part is broadcast into the date-pruned scan; the
    HAVING keyset (at most one row per supplier) semi-joins into the
    broadcast-sized supplier dim; the decimal HAVING boundary is exact.
    """
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    keyset = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(_D)).alias("ship_q"))
        .where(F.col("ship_q") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(keyset, s.s_suppkey == keyset.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: the sole late supplier in multi-supplier orders
# ---------------------------------------------------------------------------


@register(
    "subquery_sole_late_supplier",
    oracle="""
    WITH late AS (
        SELECT l_orderkey, l_suppkey
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY l_orderkey, l_suppkey
    ),
    per_order AS (
        SELECT l_orderkey AS po_okey,
               COUNT(DISTINCT l_suppkey) AS nsupp
        FROM lineitem GROUP BY l_orderkey
    ),
    late_per_order AS (
        SELECT l_orderkey AS lo_okey, COUNT(*) AS nlate
        FROM late GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM late
    JOIN per_order      ON po_okey = late.l_orderkey
    JOIN late_per_order ON lo_okey = late.l_orderkey
    JOIN supplier       ON s_suppkey = late.l_suppkey
    WHERE nsupp > 1 AND nlate = 1
    GROUP BY s_name
    """,
)
def subquery_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper in a
    finished multi-supplier order (EXISTS + NOT-EXISTS self-joins).

    Adaptation: "late" is l_shipdate > o_orderdate + 60 days (no receipt/
    commit dates in testdata). The two correlated self-joins are rewritten
    as per-order aggregate flags — distinct-supplier count > 1 (EXISTS a
    different supplier) and late-supplier count = 1 (NOT EXISTS another
    late one) — turning two fact-fact joins into two small aggregates
    co-partitioned on the SAME orderkey the fact rows already shuffle on.
    Count semantics match the dedup'd EXISTS (one row per (order, supp)).
    """
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load(spark, sf_dir, "lineitem")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    per_order = li.groupBy(F.col("l_orderkey").alias("po_okey")).agg(
        F.countDistinct("l_suppkey").alias("nsupp")
    )
    late_per_order = late.groupBy(F.col("l_orderkey").alias("lo_okey")).agg(
        F.count("*").alias("nlate")
    )
    s = load(spark, sf_dir, "supplier")
    return (
        late.join(per_order, late.l_orderkey == F.col("po_okey"))
        .join(late_per_order, late.l_orderkey == F.col("lo_okey"))
        .where((F.col("nsupp") > 1) & (F.col("nlate") == 1))
        .join(F.broadcast(s), late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Training-pipeline: deterministic hash split (train/val/test)
# ---------------------------------------------------------------------------


@register(
    "llm_split_hash",
    oracle="""
    WITH assigned AS (
        SELECT lang,
               CASE WHEN bucket < 8 THEN 'train'
                    WHEN bucket = 8 THEN 'val'
                    ELSE 'test' END AS split,
               len(string_split(text, ' ')) AS n_tokens
        FROM (
            SELECT lang, text,
                   CAST(('0x' || substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 10 AS bucket
            FROM documents
        ) b
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned
    GROUP BY split, lang
    """,
)
def llm_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by portable content hash
    (md5(doc_id) mod 10 -> 80/10/10), reported per (split, lang).

    The canonical training-data split at scale: assignment is a pure
    function of the row key — no shuffle, no seed state, stable across
    re-runs and engines, and any worker can re-derive it. md5 (not
    engine-private hash) keeps Spark and DuckDB bit-identical; all
    outputs are integer counts.
    """
    d = load(spark, sf_dir, "documents")
    bucket = md5_long(F.concat(F.lit("split_"), F.col("doc_id").cast("string"))) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return (
        d.select(
            split.alias("split"),
            "lang",
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Training-pipeline: per-lang curriculum staging
# ---------------------------------------------------------------------------


@register(
    "llm_curriculum_stages",
    oracle="""
    WITH staged AS (
        SELECT lang,
               NTILE(4) OVER (PARTITION BY lang
                              ORDER BY length(text), doc_id) AS stage,
               length(text) AS n_len
        FROM documents
    )
    SELECT lang, stage,
           COUNT(*) AS n_docs,
           CAST(SUM(n_len) AS BIGINT) AS total_chars,
           MIN(n_len) AS min_chars,
           MAX(n_len) AS max_chars
    FROM staged
    GROUP BY lang, stage
    """,
)
def llm_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning staging: shortest-to-longest quartiles per
    language (NTILE over a per-lang window), with per-stage size stats.

    The window partitions by lang — never a global single-task sort; at
    100 TB each language sorts independently and NTILE's rank arithmetic
    is distributed by Spark's window exec. doc_id breaks length ties so
    stage assignment is deterministic. All-integer outputs.
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.length("text"), "doc_id")
    return (
        d.select(
            "lang",
            F.ntile(4).over(w).alias("stage"),
            F.length("text").alias("n_len"),
        )
        .groupBy("lang", "stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_len").alias("total_chars"),
            F.min("n_len").alias("min_chars"),
            F.max("n_len").alias("max_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Event analytics: Markov transition matrix between event types
# ---------------------------------------------------------------------------


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    counted AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, transitions,
           ROUND(CAST(transitions AS DOUBLE)
                 / CAST(SUM(transitions) OVER (PARTITION BY prev_type) AS DOUBLE),
                 6) AS prob
    FROM counted
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: counts and row-normalized probabilities per (prev, next).

    The LAG window partitions by user (bounded per-user state, scales by
    user count); the probability normalization runs over the 25-row
    (prev, next) matrix, not the facts. (ts, event_id) orders ties
    deterministically. Probabilities divide two exact integers and round.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    counted = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").alias("transitions"))
    w_prev = Window.partitionBy("prev_type")
    return counted.select(
        "prev_type",
        "next_type",
        "transitions",
        F.round(
            F.col("transitions").cast("double")
            / F.sum("transitions").over(w_prev).cast("double"),
            6,
        ).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Event analytics: inter-arrival time statistics
# ---------------------------------------------------------------------------


@register(
    "events_inter_arrival",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               date_diff('second',
                         LAG(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                         ts) AS gap_s
        FROM events
    )
    SELECT event_type,
           COUNT(gap_s) AS n_gaps,
           ROUND(CAST(SUM(gap_s) AS DOUBLE) / CAST(COUNT(gap_s) AS DOUBLE), 6)
               AS avg_gap_s,
           MIN(gap_s) AS min_gap_s,
           MAX(gap_s) AS max_gap_s
    FROM gaps
    WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
)
def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time statistics per event type: whole-second gaps
    between consecutive events of the same user.

    Gaps are integer seconds (unix_timestamp difference) so SUM/MIN/MAX
    are exact and the average divides two exact integers — no float
    accumulation. The window is per-user (bounded, distributed); the
    final aggregate is 5 rows.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        F.round(
            F.sum("gap_s").cast("double") / F.count("gap_s").cast("double"), 6
        ).alias("avg_gap_s"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


# ---------------------------------------------------------------------------
# Data quality: referential-integrity audit across the star schema
# ---------------------------------------------------------------------------


@register(
    "audit_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS relation,
           COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS orphan_rows,
           COUNT(*) AS total_rows
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'orders->customer',
           COUNT(*) FILTER (WHERE c_custkey IS NULL), COUNT(*)
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'lineitem->part',
           COUNT(*) FILTER (WHERE p_partkey IS NULL), COUNT(*)
    FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
    UNION ALL
    SELECT 'lineitem->supplier',
           COUNT(*) FILTER (WHERE s_suppkey IS NULL), COUNT(*)
    FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
    UNION ALL
    SELECT 'customer->nation',
           COUNT(*) FILTER (WHERE n_nationkey IS NULL), COUNT(*)
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    """,
)
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit over the star schema: for each FK edge,
    how many child rows have no parent (the deequ-style ingestion gate a
    training pipeline runs before trusting joins).

    Each edge with a broadcast-sized parent (customer/part/supplier/
    nation) is a broadcast left join — the fact never shuffles; the one
    fact-fact edge (lineitem->orders) shuffles on its natural key. Counts
    are exact integers; the output is 5 rows.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")

    def edge(child, ckey, parent, pkey, name, bcast=True):
        par = parent.select(pkey)
        if bcast:
            par = F.broadcast(par)
        joined = child.select(ckey).join(
            par, F.col(ckey) == F.col(pkey), "left"
        )
        return joined.agg(
            F.lit(name).alias("relation"),
            F.sum(F.when(F.col(pkey).isNull(), 1).otherwise(0)).alias("orphan_rows"),
            F.count("*").alias("total_rows"),
        )

    return (
        edge(li, "l_orderkey", o, "o_orderkey", "lineitem->orders", bcast=False)
        .unionByName(edge(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionByName(edge(li, "l_partkey", p, "p_partkey", "lineitem->part"))
        .unionByName(edge(li, "l_suppkey", s, "s_suppkey", "lineitem->supplier"))
        .unionByName(edge(c, "c_nationkey", n, "n_nationkey", "customer->nation"))
    )


# ---------------------------------------------------------------------------
# Event analytics: longest consecutive-day activity streaks
# ---------------------------------------------------------------------------


@register(
    "window_activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ),
    runs AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                        AS INTEGER) AS anchor
        FROM days
    ),
    streaks AS (
        SELECT user_id, anchor, COUNT(*) AS streak_len
        FROM runs GROUP BY user_id, anchor
    ),
    longest AS (
        SELECT user_id, MAX(streak_len) AS longest_streak
        FROM streaks GROUP BY user_id
    )
    SELECT longest_streak, COUNT(*) AS n_users
    FROM longest
    GROUP BY longest_streak
    """,
)
def window_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, reported as a
    (streak_length, n_users) distribution — the gaps-and-islands idiom
    (date minus row_number anchors each run).

    The window partitions per user over DISTINCT active days (≤30 rows
    per user here; bounded by calendar days at any scale), and every
    subsequent aggregate shrinks the data. Integer-only outputs.
    """
    e = load(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    runs = days.select(
        "user_id",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("anchor"),
    )
    streaks = runs.groupBy("user_id", "anchor").agg(F.count("*").alias("streak_len"))
    longest = streaks.groupBy("user_id").agg(F.max("streak_len").alias("longest_streak"))
    return longest.groupBy("longest_streak").agg(F.count("*").alias("n_users"))
