"""Round-3 extension pack #69: role-playing calendar dimension.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the role-playing date dimension (Kimball: ONE conformed
calendar joined under multiple roles — order date, ship date — so both
roles share attribute definitions by construction) — re-expressed on
the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the calendar dim derives
from the dates PRESENT in the fact (no generated spine state), with
integer/boolean attributes only.

Scale posture (SURVEY.md §7.6): the calendar dim is calendar-bounded
and broadcast into BOTH role joins (the whole point of role-playing:
one tiny conformed table, many cheap joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "join_role_playing_calendar",
    oracle="""
    WITH cal AS (
        SELECT d,
               CAST(dayofweek(d) AS BIGINT) AS dow,  -- 0=Sun..6=Sat
               dayofweek(d) IN (0, 6) AS is_weekend
        FROM (
            SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
            UNION
            SELECT DISTINCT CAST(l_shipdate AS DATE) FROM lineitem
        ) dd
    ),
    fact AS (
        SELECT l.l_orderkey, CAST(o.o_orderdate AS DATE) AS od,
               CAST(l.l_shipdate AS DATE) AS sd,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT co.dow AS order_dow, cs.is_weekend AS shipped_weekend,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(f.cents) AS BIGINT) AS cents
    FROM fact f
    JOIN cal co ON co.d = f.od
    JOIN cal cs ON cs.d = f.sd
    GROUP BY co.dow, cs.is_weekend
    ORDER BY order_dow, shipped_weekend
    """,
)
def join_role_playing_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-playing calendar (SURVEY.md §2.3): ONE conformed calendar
    dimension (dates present in the facts, with day-of-week and
    weekend attributes) joined under TWO roles — the order-date role
    and the ship-date role — producing the ordered-on-DOW ×
    shipped-on-weekend matrix. The Kimball pattern that guarantees
    both roles agree on what "weekend" means, because there is only
    one definition to disagree with; the naive alternative (computing
    dow inline at each use site) is exactly how two dashboards end up
    with two weekends.

    DOW numbering is pinned to DuckDB's 0=Sunday..6=Saturday
    convention (Spark's dayofweek is 1=Sunday..7 — normalized in the
    dim build, ONCE, which is the pattern's point).

    Exactness: integer dow, boolean weekend, integer cents.

    Scale: the calendar is calendar-bounded and BROADCAST into both
    role joins — two cheap hash joins against one tiny conformed
    table; the fact is read once.
    """
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.to_date("o_orderdate").alias("od")
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.to_date("l_shipdate").alias("sd"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    dates = o.select(F.col("od").alias("d")).union(
        li.select(F.col("sd").alias("d"))
    ).distinct()
    cal = dates.select(
        "d",
        # normalize Spark's 1=Sun..7 to the dim's 0=Sun..6 convention
        (F.dayofweek("d") - 1).cast("long").alias("dow"),
        ((F.dayofweek("d") == 1) | (F.dayofweek("d") == 7)).alias("is_weekend"),
        # r13 (guide §5): the conformed calendar feeds BOTH role joins;
        # without a checkpoint each broadcast rebuilt the dates-union
        # subtree — two extra scans of each fact per execution. The dim
        # is calendar-bounded (≤ a few thousand rows), the r12
        # bounded-intermediate discipline. Lazy: the first broadcast
        # build materializes it in passing (an eager pin measured +0.3 s
        # of construction-job scheduling for no exec win locally).
    ).localCheckpoint(eager=False)
    fact = li.join(o, "k")
    co = cal.select(F.col("d").alias("od"), F.col("dow").alias("order_dow"))
    cs = cal.select(
        F.col("d").alias("sd"), F.col("is_weekend").alias("shipped_weekend")
    )
    return (
        fact.join(F.broadcast(co), "od")
        .join(F.broadcast(cs), "sd")
        .groupBy("order_dow", "shipped_weekend")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("order_dow", "shipped_weekend")
    )
