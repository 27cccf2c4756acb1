"""Joins (SURVEY.md §2.3): inner/broadcast/outer/semi/anti/cross/range/as-of.

Scale posture per join:
- Fact⋈fact (orders⋈lineitem): shuffle hash / sort-merge on the key —
  Catalyst + AQE pick; both sides partition by key so it scales linearly.
- Fact⋈dim (⋈nation/region): explicit ``F.broadcast`` — at 100 TB the dim
  stays a map-side hash table, no shuffle of the fact side.
- Range joins: the probe side stays partitioned; the interval side is tiny
  and broadcast → a broadcast nested-loop, never a fact×fact BNLJ.
- As-of join: re-expressed as union + window (one shuffle by user, one
  sort by ts) — the only formulation that survives 100 TB; a conditional
  self-join would be quadratic per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@register(
    "join_inner_3way",
    oracle="""
    SELECT c.c_custkey,
           o.o_orderkey,
           l.l_linenumber,
           ROUND(l.l_extendedprice * (1 - l.l_discount), 4) AS net_price
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def join_inner_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way inner equi-join customer⋈orders⋈lineitem (SURVEY.md §2.3).

    The segment filter lands on the customer scan (pushdown) and AQE turns
    the filtered customer side into a broadcast at runtime.
    """
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .select(
            "c_custkey",
            "o_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        )
    )


@register(
    "join_broadcast_dim",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
    FROM nation n
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join with the dimension table (SURVEY.md §2.3).

    Same semantics as a plain inner join; the hint pins the physical plan
    that is mandatory at scale (dim ships to every executor, fact never
    shuffles). tests/test_plans.py asserts BroadcastHashJoin in the plan.
    """
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", F.col("r_name").alias("region_name")
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS order_cnt,
           ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS total_spend
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count=0)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one high-value order."""
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_cross_small",
    oracle="""
    SELECT a.r_name AS region_a, b.r_name AS region_b
    FROM region a
    CROSS JOIN region b
    WHERE a.r_regionkey <> b.r_regionkey
    """,
)
def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny dims (all distinct region pairs).

    Cross joins are only ever legal between broadcast-sized inputs —
    the engine never cross-joins a fact table (SURVEY.md §7.6).
    """
    r = load(spark, sf_dir, "region")
    a = r.select(F.col("r_regionkey").alias("ka"), F.col("r_name").alias("region_a"))
    b = r.select(F.col("r_regionkey").alias("kb"), F.col("r_name").alias("region_b"))
    return a.crossJoin(b).where(F.col("ka") != F.col("kb")).select("region_a", "region_b")


@register(
    "join_range_events",
    oracle="""
    WITH days AS (
        SELECT DISTINCT date_trunc('day', ts) AS day_start,
               date_trunc('day', ts) + INTERVAL 1 DAY AS day_end
        FROM events
    )
    SELECT strftime(d.day_start, '%Y-%m-%d') AS day,
           COUNT(*) AS event_cnt,
           ROUND(SUM(e.value), 2) AS value_sum
    FROM events e
    JOIN days d ON e.ts >= d.day_start AND e.ts < d.day_end
    GROUP BY d.day_start
    """,
)
def join_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: events against derived day intervals.

    The interval side is tiny (one row per day) and broadcast, so the plan
    is a broadcast nested-loop with the fact side staying partitioned —
    the only range-join shape allowed at scale. (For interval×interval at
    scale the engine would bin both sides first.)
    """
    e = load(spark, sf_dir, "events")
    days = (
        e.select(F.date_trunc("day", F.col("ts")).alias("day_start"))
        .distinct()
        .withColumn("day_end", F.col("day_start") + F.expr("INTERVAL 1 DAY"))
    )
    return (
        e.join(
            F.broadcast(days),
            (e.ts >= days.day_start) & (e.ts < days.day_end),
        )
        .groupBy("day_start")
        .agg(F.count("*").alias("event_cnt"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            F.date_format("day_start", "yyyy-MM-dd").alias("day"),
            "event_cnt",
            "value_sum",
        )
    )


@register(
    "join_asof_events",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def join_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY.md §2.3, §7.4 hard part): for each purchase, the
    most recent click at-or-before it by the same user.

    Spark has no native primitive. Re-expressed as union + window: tag
    both event kinds, sort within user by (ts, tag), carry the running
    last click timestamp forward, keep purchase rows that found one.
    Cost: ONE shuffle by user_id + ONE sort — linear at 100 TB, unlike a
    conditional self-join (quadratic per hot user). Oracle: DuckDB's
    native ASOF JOIN (inner semantics — purchases without a prior click
    drop out on both sides).
    """
    e = load(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts"), F.lit(0).alias("is_purchase"), F.lit(None).cast("long").alias("event_id")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts"), F.lit(1).alias("is_purchase"), F.col("event_id")
    )
    # clicks sort before purchases at identical ts (tag asc) so an
    # equal-timestamp click is visible to the purchase — matches `>=`.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_purchase"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = clicks.unionByName(purchases).withColumn(
        "last_click_ts",
        F.last(F.when(F.col("is_purchase") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return (
        tagged.where((F.col("is_purchase") == 1) & F.col("last_click_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", TS_FMT).alias("purchase_ts"),
            F.date_format("last_click_ts", TS_FMT).alias("last_click_ts"),
        )
    )


@register(
    "topk_revenue",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
               AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (SURVEY.md §2.6): join + group + ORDER BY + LIMIT.

    Spark plans TakeOrderedAndProject — each partition keeps only its
    top-10, the driver merges k×partitions rows; no global sort at scale.
    Ordering ties broken by l_orderkey so the limit boundary is total and
    deterministic on both engines. Revenue in DECIMAL — per-order groups
    are small so double would survive here, but a ranking QUERY must
    never rank on a value with scale-dependent error (SURVEY.md §7.5).
    """
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp")
    )
    # r12 optimization (guide §3.1): with tiny local size estimates the
    # planner broadcast the FILTERED LINEITEM (the big side) into the
    # customer⋈orders probe — backwards at any scale and 0.4 s of hash-
    # relation build here. The SHUFFLE_HASH hint on the c⋈o side makes
    # the strategy deliberate: both sides hash-partition on orderkey and
    # the SMALLER (filtered c⋈o) side builds per-partition — no sort, no
    # broadcast cap / driver risk at 100 TB (an explicit broadcast(c⋈o)
    # would beat it locally but exceeds the 8 GB/512M-row broadcast cap at
    # large SF). Measured interleaved at sf0.1: 1.105 → 0.746 s med.
    # Join order (c⋈o)⋈li is unchanged, so the result is hash-identical.
    co = c.join(o, c.c_custkey == o.o_custkey)
    return (
        li.join(co.hint("shuffle_hash"), co.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("double"),
                4,
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "join_5way_regional_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
               AS revenue,
           COUNT(*) AS line_cnt
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def join_5way_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join (region→nation→customer→orders→
    lineitem→supplier) with the local-supplier predicate, revenue by nation.

    Scale posture: region/nation/supplier/customer are dims → broadcast
    explicitly; the only shuffles left are orders⋈lineitem on orderkey and
    the final small groupBy. Catalyst+AQE would get most of this right,
    but pinning the broadcasts keeps the plan stable when dim stats are
    missing. revenue sums in DECIMAL (exact at any N) — nation-sized
    groups make double-sum error scale past the round(,4) grid, the same
    failure mode the multi-SF test caught on the flagship.
    """
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    return (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.count("*").alias("line_cnt"),
        )
    )


@register(
    "subquery_scalar_above_avg",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def subquery_scalar_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above 2× the global average price.

    Expressed as a broadcast of the 1-row aggregate crossed into the scan —
    exactly the physical plan Catalyst builds for an uncorrelated scalar
    subquery (one pass to aggregate, one streamed pass to filter; the fact
    table is never shuffled). The 2× threshold keeps the comparison far
    from any float-equality boundary between the engines' AVG orderings.
    """
    o = load(spark, sf_dir, "orders")
    avg = o.agg(F.avg("o_totalprice").alias("_avg"))
    return (
        o.crossJoin(F.broadcast(avg))
        .where(F.col("o_totalprice") > 2 * F.col("_avg"))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "subquery_exists_not_exists",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
)
def subquery_exists_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT EXISTS: customers with a finished order and
    no open one — decorrelated into a left-semi then left-anti join, the
    same rewrite Catalyst applies to the subquery form. Two hash joins on
    the same key; at scale both reuse one shuffle partitioning of orders.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    finished = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    open_ = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return (
        c.join(finished, c.c_custkey == finished.o_custkey, "left_semi")
        .join(open_, c.c_custkey == open_.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    unique_col: str,
    salt_n: int = 8,
) -> DataFrame:
    """Skew-mitigating equi-join (SURVEY.md §7.6 salting helper).

    With a heavily skewed join key, one reducer receives most rows. Salting
    splits each hot key into ``salt_n`` sub-keys: the large side derives a
    deterministic salt from one of its own unique columns (never rand() —
    task retries must re-derive identical salt), the small side is
    replicated ``salt_n`` times, and the join runs on (key, salt). AQE's
    skew-join split handles moderate skew automatically; this is the
    explicit tool for the pathological case.

    Result is exactly the plain inner join (asserted in tests): salting
    only changes the partitioning, never the matched pairs.
    """
    salted = large.withColumn("_salt", F.pmod(F.hash(F.col(unique_col)), F.lit(salt_n)))
    replicated = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_n)]))
    )
    return salted.join(replicated, on=[key, "_salt"], how="inner").drop("_salt")


@register(
    "join_asof_pandas",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def join_asof_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, Arrow custom-operator path (SURVEY.md §2.3 alternative):
    the SAME semantics as join_asof_events, but via cogrouped
    applyInPandas running pandas.merge_asof per user — the pattern for
    operators whose per-group logic genuinely can't be expressed with
    windows. Oracle-identical to the window formulation, proving the two
    strategies agree to the hash.

    Scale: cogrouping directly on user_id costs one Python call per USER
    (measured 10.8 s at sf0.1); instead both sides are cogrouped on a
    64-way user-id BUCKET and merge_asof's `by=` handles per-user
    semantics inside one vectorized call per bucket (measured 3.6 s cold
    / 1.2 s warm — the per-batch Python overhead is the whole game at the
    Arrow boundary). Two self-cogroup traps cost real debugging time:
    the right side's key MUST be renamed (identical exprIds from the
    shared scan get deduplicated out of the right pandas frame), and
    empty cogroup partners arrive column-less (guard both sides).
    """
    import pandas as pd

    e = load(spark, sf_dir, "events")
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withColumn("b", F.pmod("user_id", F.lit(64)))
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("cuser"), F.col("ts").alias("click_ts"))
        .withColumn("b", F.pmod("cuser", F.lit(64)))
    )
    empty = pd.DataFrame(
        {"event_id": [], "user_id": [], "purchase_ts": [], "last_click_ts": []}
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return empty
        left = left.sort_values(["ts", "user_id"], kind="mergesort")
        right = right.sort_values(["click_ts", "cuser"], kind="mergesort")
        out = pd.merge_asof(
            left,
            right,
            left_on="ts",
            right_on="click_ts",
            left_by="user_id",
            right_by="cuser",
            direction="backward",
            allow_exact_matches=True,
        )
        out = out[out["click_ts"].notna()]
        return pd.DataFrame(
            {
                "event_id": out["event_id"],
                "user_id": out["user_id"],
                "purchase_ts": out["ts"].dt.strftime("%Y-%m-%d %H:%M:%S.%f"),
                "last_click_ts": out["click_ts"].dt.strftime("%Y-%m-%d %H:%M:%S.%f"),
            }
        )

    return (
        purchases.groupBy("b")
        .cogroup(clicks.groupBy("b"))
        .applyInPandas(
            lambda left, right: merge(left, right),
            schema="event_id long, user_id long, purchase_ts string, last_click_ts string",
        )
    )
