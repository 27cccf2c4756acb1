"""Round-1 extension pack #2: classic analytic query shapes (TPC-H
Q6/Q11/Q13/Q14/Q18/Q19/Q22 analogs over our TPC-H-ish testdata), LOCF
gap-fill, centered moving averages, weighted averages, per-group mode,
exact-moment skewness/kurtosis, MERGE-style upsert, and an array
higher-order-function suite.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session, so
no file:line citations into it are possible; each operator cites the SURVEY
§2 row it implements. All query shapes are public knowledge (TPC-H spec
shapes, standard SQL idioms) re-expressed on the driver's testdata schema.

Scale posture (SURVEY.md §7.5-7.6), uniform across this module:
- money/measure sums are EXACT DECIMAL sums cast to double at the end —
  float accumulation order can differ per engine/run and diverges at scale;
- dimension sides of joins are explicitly broadcast;
- windows run over pre-aggregated series (thousands of rows), never raw
  facts; no collect(), no Python row-UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

_D = "decimal(18,2)"


# ---------------------------------------------------------------------------
# TPC-H-shaped relational additions (SURVEY.md §2.2-2.4)
# ---------------------------------------------------------------------------


@register(
    "filter_scan_agg_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
      AND l_quantity < 24
    """,
)
def filter_scan_agg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive filter + 1-group aggregate.

    The whole query is scan-local: Parquet pushdown takes the date range
    and quantity bound, the decimal product sum is map-side partial, and
    the shuffle carries exactly one row per partition. At 100 TB this is
    the best-case operator — verify PushedFilters in tests/test_plans.py.
    """
    li = load(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast(_D)
    disc = F.col("l_discount").cast(_D)
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(F.lit(0.05), F.lit(0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(ep * disc).cast("double").alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "agg_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    ) per_cust
    GROUP BY c_count
    """,
)
def agg_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts
    (double aggregation: left join -> count per key -> count per count).

    First shuffle is the join+count on c_custkey; the second groupBy runs
    over one row per customer and its input shrinks ~40x, so the expensive
    shuffle happens exactly once over fact-sized data.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "join_promo_share",
    oracle="""
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2))) END)
                AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS total_revenue,
           ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6)
               AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def join_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue share over a fact-dim join.

    `part` is the dimension -> explicit broadcast; lineitem keeps its scan
    partitioning and never shuffles (filter + map-side join + 1-row agg).
    Share is derived from two EXACT decimal sums in one pass.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    ep = F.col("l_extendedprice").cast(_D)
    disc = F.col("l_discount").cast(_D)
    net = ep * (F.lit(1) - disc)
    promo = F.when(F.col("p_type") == "PROMO", net)
    joined = li.where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        F.sum(promo).cast("double").alias("promo_revenue"),
        F.sum(net).cast("double").alias("total_revenue"),
        F.round(
            F.lit(100.0) * F.sum(promo).cast("double") / F.sum(net).cast("double"), 6
        ).alias("promo_share_pct"),
    )


@register(
    "subquery_in_agg_having",
    oracle="""
    SELECT c_name, o_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
    )
    GROUP BY c_name, o_orderkey
    """,
)
def subquery_in_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery whose inner query is an aggregate with
    HAVING, joined back through orders to customer.

    The inner HAVING output is a tiny key set (~0.1% of orders) -> it is
    left-semi-joined into lineitem (Catalyst rewrites IN to semi) and the
    outer aggregation only sees surviving orders. Quantity totals use the
    exact decimal recipe so the HAVING boundary is deterministic at any N.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(_D)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("sq"))
        .where(F.col("sq") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey")
        .agg(F.sum(qty).cast("double").alias("total_qty"))
    )


@register(
    "agg_having_global_share",
    oracle="""
    WITH s AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        FROM lineitem GROUP BY l_suppkey
    ), tot AS (
        SELECT SUM(rev) AS total_rev, COUNT(*) AS n_supp FROM s
    )
    SELECT l_suppkey, CAST(rev AS DOUBLE) AS supplier_revenue
    FROM s, tot
    WHERE rev * n_supp > total_rev
    """,
)
def agg_having_global_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: keep groups whose aggregate exceeds a threshold
    derived from the GLOBAL aggregate (here: above-mean supplier revenue).

    The global total is a 1-row aggregate over the per-supplier rollup (no
    second fact scan) broadcast-crossed back in. The comparison is kept in
    exact decimal-by-integer arithmetic (`rev * n_supp > total_rev`), so
    the cut is deterministic — no float mean near the boundary.
    """
    li = load(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast(_D)).alias("rev")
    )
    tot = s.agg(
        F.sum("rev").alias("total_rev"), F.count("*").alias("n_supp")
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .where(F.col("rev") * F.col("n_supp") > F.col("total_rev"))
        .select("l_suppkey", F.col("rev").cast("double").alias("supplier_revenue"))
    )


@register(
    "filter_disjunctive_join",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def filter_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs mixed predicate across both join sides.

    Catalyst extracts the common-key equi-join (partkey) and evaluates the
    disjunction post-join; the dim side is broadcast so the disjunction
    never forces a shuffle. The per-side conjuncts (brand/size on part,
    quantity on lineitem) are derivable pushdowns — the part scan can
    prune to 3 brands.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 20) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 25) & qty.between(20, 30))
    )
    net = F.col("l_extendedprice").cast(_D) * (F.lit(1) - F.col("l_discount").cast(_D))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.sum(net).cast("double").alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "subquery_scalar_anti_combo",
    oracle="""
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS ab
        FROM customer WHERE c_acctbal > 0
    )
    SELECT substr(c_name, -2, 2) AS cust_suffix,
           COUNT(*) AS n_cust,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_bal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY substr(c_name, -2, 2)
    """,
)
def subquery_scalar_anti_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global average balance) + anti
    join (no recent orders) + substring grouping, composed in one query.

    The scalar average is a 1-row broadcast; the NOT EXISTS decorrelates
    to a left-anti join against the (pre-filtered, pre-deduplicated)
    recent-buyer key set, so the anti side shrinks before it shuffles.
    The average itself is exact-sum/count (never engine AVG).
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast(_D)
    avg_bal = (
        c.where(F.col("c_acctbal") > 0)
        .agg((F.sum(bal).cast("double") / F.count("*")).alias("ab"))
    )
    recent = (
        o.where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy(F.expr("substring(c_name, -2, 2)").alias("cust_suffix"))
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum(bal).cast("double"), 2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Window additions (SURVEY.md §2.5)
# ---------------------------------------------------------------------------


@register(
    "window_centered_moving_avg",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, cnt,
           ROUND(CAST(SUM(cnt) OVER w AS DOUBLE)
                 / COUNT(cnt) OVER w, 6) AS centered_ma7
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    """,
)
def window_centered_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered 7-day moving average (3 preceding + current + 3 following)
    of daily event counts per type — a frame with a FOLLOWING edge, which
    none of the other window keys exercise.

    The window runs over the pre-aggregated (type, day) series (~150 rows
    at any SF that spans the same dates), partitioned by type. The average
    is integer-sum / integer-count — exact division, no float window sums.
    """
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    return daily.select(
        "event_type",
        "day",
        "cnt",
        F.round(
            F.sum("cnt").over(w).cast("double") / F.count("cnt").over(w), 6
        ).alias("centered_ma7"),
    )


@register(
    "window_locf_fill",
    oracle="""
    SELECT event_id, user_id, event_type,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS locf_value
    FROM (
        SELECT event_id, user_id, event_type, ts,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events
    ) t
    """,
)
def window_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap fill: 'error' events have no
    usable value, so each takes the most recent non-null value of the same
    user (time-series imputation; SURVEY.md §2.5).

    `F.last(ignorenulls=True)` over an UNBOUNDED PRECEDING..CURRENT frame,
    ordered by (ts, event_id) — the event_id tie-break makes the fill
    deterministic when timestamps collide. Partitioned by user_id: at
    100 TB this is one hash shuffle and a per-user sorted scan; state per
    row is O(1) (the single carried value).
    """
    e = load(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(v, ignorenulls=True).over(w).alias("locf_value"),
    )


# ---------------------------------------------------------------------------
# Aggregate additions (SURVEY.md §2.4)
# ---------------------------------------------------------------------------


@register(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS wavg_price,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag: two exact decimal
    sums (Σwx, Σw) derived into a double ratio — the deterministic form of
    SUM(x*w)/SUM(w) (SURVEY.md §7.5: never engine-private AVG on floats).
    One partial-agg shuffle of 2 numbers per group at any scale.
    """
    li = load(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast(_D)
    qty = F.col("l_quantity").cast(_D)
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(ep * qty).cast("double") / F.sum(qty).cast("double"), 6
        ).alias("wavg_price"),
        F.count("*").alias("n_rows"),
    )


@register(
    "agg_mode",
    oracle="""
    WITH counts AS (
        SELECT user_id % 10 AS user_bucket, event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT user_bucket, event_type, cnt,
               ROW_NUMBER() OVER (PARTITION BY user_bucket
                                  ORDER BY cnt DESC, event_type) AS rn
        FROM counts
    )
    SELECT user_bucket, event_type AS modal_event_type, cnt AS modal_cnt
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent event_type per user bucket) via
    count + rank with an EXPLICIT tie-break (count desc, then value asc) —
    engine-native mode() has unspecified ties, so both sides spell the
    window out (SURVEY.md §2.4 max_by family).

    Count first (fact-sized shuffle with map-side combine), rank over the
    tiny (bucket, type) matrix — the window never sees raw events.
    """
    e = load(spark, sf_dir, "events")
    counts = (
        e.groupBy((F.col("user_id") % 10).alias("user_bucket"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("user_bucket").orderBy(F.desc("cnt"), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_bucket",
            F.col("event_type").alias("modal_event_type"),
            F.col("cnt").alias("modal_cnt"),
        )
    )


@register(
    "agg_skew_kurtosis_moments",
    oracle="""
    WITH q AS (
        SELECT event_type,
               CAST(value AS DECIMAL(9,2)) AS v,
               CAST(CAST(value AS DECIMAL(9,2))
                    * CAST(value AS DECIMAL(9,2)) AS DECIMAL(19,4)) AS v2
        FROM events
    ), m AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(v) AS DOUBLE) AS s1,
               CAST(SUM(v2) AS DOUBLE) AS s2,
               CAST(SUM(v2 * v) AS DOUBLE) AS s3,
               CAST(SUM(v2 * v2) AS DOUBLE) AS s4
        FROM q GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_rows,
           ROUND((s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
                 / POW(s2/n - (s1/n)*(s1/n), 1.5), 6) AS skewness_pop,
           ROUND((s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
                  - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
                 / POW(s2/n - (s1/n)*(s1/n), 2) - 3, 6) AS kurtosis_excess
    FROM m
    """,
)
def agg_skew_kurtosis_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness + excess kurtosis per event type from EXACT
    raw moments Σx..Σx⁴ (events.value carries exactly 2 decimals — decimal
    quantization is lossless), derived in double with the identical
    expression tree on both engines. NOT F.skewness/F.kurtosis: engines
    disagree on accumulation order AND on sample-vs-population convention.

    Algebraic moments -> map-side partial aggregation; the shuffle carries
    5 numbers per group regardless of input size (SURVEY.md §7.8).
    """
    e = load(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(9,2)")
    m = e.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
        F.sum((v * v) * v).cast("double").alias("s3"),
        F.sum((v * v) * (v * v)).cast("double").alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1") / n
    m2 = F.col("s2") / n
    m3 = F.col("s3") / n
    m4 = F.col("s4") / n
    var_pop = m2 - m1 * m1
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var_pop, 1.5)
    kurt = (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1) / F.pow(
        var_pop, 2
    ) - 3
    return m.select(
        "event_type",
        n.cast("long").alias("n_rows"),
        F.round(skew, 6).alias("skewness_pop"),
        F.round(kurt, 6).alias("kurtosis_excess"),
    )


# ---------------------------------------------------------------------------
# MERGE-style upsert (SURVEY.md §2.3 adjunct)
# ---------------------------------------------------------------------------


@register(
    "merge_upsert",
    oracle="""
    WITH delta AS (
        SELECT o_custkey AS c_custkey,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS recent_spend
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        GROUP BY o_custkey
    )
    SELECT COALESCE(c.c_custkey, d.c_custkey) AS custkey,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN d.c_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action,
           COALESCE(d.recent_spend, ROUND(CAST(c.c_acctbal AS DOUBLE), 2))
               AS merged_value
    FROM customer c FULL OUTER JOIN delta d ON c.c_custkey = d.c_custkey
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (upsert): a delta of recent per-customer spend
    merged into the customer base — matched rows take the delta value
    ('update'), unmatched base rows keep theirs ('keep'), delta-only keys
    would be 'insert'. The standard full-outer + COALESCE pattern Spark
    users run where a lakehouse MERGE is unavailable.

    Both sides are pre-reduced to one row per key before the full-outer
    shuffle (delta by its groupBy, base already unique on custkey), so the
    join is 1:1 and the shuffle is minimal — the same plan holds when base
    is 100 TB bucketed by key.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    delta = (
        o.where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .groupBy(F.col("o_custkey").alias("d_custkey"))
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast(_D)).cast("double"), 2
            ).alias("recent_spend")
        )
    )
    j = c.join(delta, c.c_custkey == delta.d_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "d_custkey").alias("custkey"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("d_custkey").isNull(), "keep")
        .otherwise("update")
        .alias("merge_action"),
        F.coalesce(
            "recent_spend", F.round(F.col("c_acctbal").cast("double"), 2)
        ).alias("merged_value"),
    )


# ---------------------------------------------------------------------------
# Array higher-order functions (SURVEY.md §2.8)
# ---------------------------------------------------------------------------


@register(
    "scalar_hof_suite",
    oracle="""
    SELECT vec_id,
           ROUND(list_sum(list_transform(embedding,
                 x -> 2 * CAST(x AS DOUBLE))), 4) AS doubled_sum,
           len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0)) AS n_pos,
           len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.4)) > 0
               AS any_gt_04,
           len(list_filter(embedding,
               x -> ABS(CAST(x AS DOUBLE)) >= 1.0)) = 0 AS all_lt_1,
           ROUND(list_sum(list_transform(embedding[1:8],
                 x -> CAST(x AS DOUBLE))), 4) AS head8_sum
    FROM embeddings
    """,
)
def scalar_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions: transform, filter, exists, forall,
    and slice+fold over the 64-d embedding column (SURVEY.md §2.8).

    HOFs evaluate inside codegen on the JVM — per-element lambdas without
    a Python boundary. Elements are widened float->double INSIDE the
    lambda on both engines (exact widening), folds are sequential
    left-to-right on both, and sums are rounded to absorb the last ulp.
    """
    emb = load(spark, sf_dir, "embeddings")
    arr = F.col("embedding")
    as_d = lambda x: x.cast("double")  # noqa: E731
    return emb.select(
        "vec_id",
        F.round(
            F.aggregate(
                F.transform(arr, lambda x: 2 * as_d(x)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("doubled_sum"),
        F.size(F.filter(arr, lambda x: as_d(x) > 0)).alias("n_pos"),
        F.exists(arr, lambda x: as_d(x) > 0.4).alias("any_gt_04"),
        F.forall(arr, lambda x: F.abs(as_d(x)) < 1.0).alias("all_lt_1"),
        F.round(
            F.aggregate(
                F.transform(F.slice(arr, 1, 8), as_d),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("head8_sum"),
    )


# ---------------------------------------------------------------------------
# Second batch: Q7/Q2 shapes, EWMA filter, banded MinHash LSH
# ---------------------------------------------------------------------------


@register(
    "join_nation_flow",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(extract(year FROM l_shipdate) AS BIGINT) AS ship_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS volume,
           COUNT(*) AS n_rows
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def join_nation_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year — a 6-table chain where the interesting predicate is a
    DISJUNCTION across two different join paths (supplier-nation vs
    customer-nation).

    supplier/nation/customer are dims -> broadcast; lineitem⋈orders is
    the single fact-fact shuffle (same key discipline as
    join_5way_regional_revenue). The nation filter reaches both nation
    scans, so each broadcast side carries 1 row before the OR is
    evaluated post-join.
    """
    li = load(spark, sf_dir, "lineitem")
    su = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).where(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).where(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    net = F.col("l_extendedprice").cast(_D) * (F.lit(1) - F.col("l_discount").cast(_D))
    j = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu.select("c_custkey", "c_nationkey")), o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("ship_year")
    ).agg(
        F.sum(net).cast("double").alias("volume"),
        F.count("*").alias("n_rows"),
    )


@register(
    "join_back_min_per_group",
    oracle="""
    SELECT p.p_type, p.p_partkey, p.p_name, m.min_price
    FROM part p
    JOIN (
        SELECT p_type, MIN(p_retailprice) AS min_price
        FROM part GROUP BY p_type
    ) m ON p.p_type = m.p_type AND p.p_retailprice = m.min_price
    """,
)
def join_back_min_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: find each group's minimum, then join back on
    aggregate equality to recover the full rows that achieve it (ALL
    ties, unlike a rank-1 window which needs a tie-break).

    The per-type min table is group-count-sized -> broadcast back onto
    the part scan; the fact side never shuffles. MIN of a double is
    order-insensitive (unlike SUM), so raw doubles are safe here and the
    equality join compares identical parquet bit patterns on both
    engines.
    """
    p = load(spark, sf_dir, "part")
    mins = p.groupBy(F.col("p_type").alias("m_type")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        p.join(
            F.broadcast(mins),
            (p.p_type == mins.m_type) & (p.p_retailprice == mins.min_price),
        )
        .select("p_type", "p_partkey", "p_name", "min_price")
    )


@register(
    "window_ewma",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, cnt,
           (1.0    * cnt
            + 0.5    * COALESCE(lag(cnt, 1) OVER w, 0)
            + 0.25   * COALESCE(lag(cnt, 2) OVER w, 0)
            + 0.125  * COALESCE(lag(cnt, 3) OVER w, 0)
            + 0.0625 * COALESCE(lag(cnt, 4) OVER w, 0))
           / (1.0
              + CASE WHEN lag(cnt, 1) OVER w IS NULL THEN 0 ELSE 0.5 END
              + CASE WHEN lag(cnt, 2) OVER w IS NULL THEN 0 ELSE 0.25 END
              + CASE WHEN lag(cnt, 3) OVER w IS NULL THEN 0 ELSE 0.125 END
              + CASE WHEN lag(cnt, 4) OVER w IS NULL THEN 0 ELSE 0.0625 END)
               AS ewma5
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=0.5, 5-tap truncated
    kernel) of daily event counts — the finite-impulse form of EWMA whose
    weights renormalize at the series head where lags are missing.

    The infinite-recurrence EWMA is order-dependent float accumulation
    (unhashable across engines); truncating to 5 taps makes it a CLOSED
    FORM over lag(), and every term is exact in binary floating point
    (integer counts x powers of 0.5), so no rounding is needed at any
    scale. Window runs over the pre-aggregated daily series.
    """
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    weights = [1.0, 0.5, 0.25, 0.125, 0.0625]
    num = F.lit(1.0) * F.col("cnt")
    den = F.lit(1.0)
    for i, wt in enumerate(weights[1:], start=1):
        lagged = F.lag("cnt", i).over(w)
        num = num + F.lit(wt) * F.coalesce(lagged, F.lit(0))
        den = den + F.when(lagged.isNull(), F.lit(0.0)).otherwise(F.lit(wt))
    return daily.select("event_type", "day", "cnt", (num / den).alias("ewma5"))


# ---------------------------------------------------------------------------
# Third batch: training-data pipeline ops (packing, chunking) + OHLC bars
# ---------------------------------------------------------------------------


@register(
    "events_ohlc",
    oracle="""
    WITH ordered AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               value, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts, event_id) AS rn_first,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_last
        FROM events
    )
    SELECT event_type, day,
           MIN(CASE WHEN rn_first = 1 THEN value END) AS open_value,
           MAX(value) AS high_value,
           MIN(value) AS low_value,
           MIN(CASE WHEN rn_last = 1 THEN value END) AS close_value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(*) AS n_events
    FROM ordered
    GROUP BY event_type, day
    """,
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars (open/high/low/close + volume) per event type per day —
    the canonical time-series downsampling shape (SURVEY.md §2.4
    arg-extreme family applied to time order).

    open/close are arg-extremes by (ts, event_id) — min_by/max_by with a
    STRUCT tie-break for determinism under timestamp collisions, exactly
    the agg_min_max_by recipe. One map-side-partial shuffle per
    (type, day); volume in exact decimal. The DuckDB oracle spells the
    arg-extremes as rank-1 windows (its arg_min lacks struct keys).
    """
    e = load(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    return (
        e.groupBy("event_type", day)
        .agg(
            F.min_by("value", F.struct("ts", "event_id")).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", F.struct("ts", "event_id")).alias("close_value"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
            F.count("*").alias("n_events"),
        )
    )
