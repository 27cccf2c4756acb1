"""Round-3 extension pack #85: the inline-VALUES lookup join.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the inline-VALUES lookup (a literal dimension joined to
facts — the canonical way to ship a tiny mapping with the query instead
of a table) — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-3 standard): the VALUES dim is a shared
literal.

Scale posture (SURVEY.md §7.6): the VALUES join broadcasts by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows

SLA_DAYS = {"1-URGENT": 30, "2-HIGH": 60, "3-MEDIUM": 90, "4-NOT SPECIFIED": 120,
            "5-LOW": 150}


@register(
    "relational_inline_values_lookup",
    oracle=f"""
    WITH sla(priority, sla_days) AS (VALUES
        {", ".join(f"('{k}', {v})" for k, v in SLA_DAYS.items())}
    ),
    joined AS (
        SELECT o.o_orderpriority AS priority, s.sla_days,
               datediff('day', CAST(o.o_orderdate AS DATE),
                        (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
                   AS age_d
        FROM orders o JOIN sla s ON s.priority = o.o_orderpriority
        WHERE o.o_orderstatus = 'O'
    )
    SELECT priority, CAST(MAX(sla_days) AS BIGINT) AS sla_days,
           CAST(COUNT(*) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN age_d > sla_days THEN 1 ELSE 0 END) AS BIGINT)
               AS n_breached
    FROM joined
    GROUP BY priority
    ORDER BY priority
    """,
)
def relational_inline_values_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline-VALUES lookup (SURVEY.md §2.2): a literal priority→SLA
    mapping shipped WITH the query (the `VALUES`-clause dimension —
    the canonical way to attach a tiny business mapping without
    provisioning a table, and the degenerate case every broadcast
    join optimizer should eat for free), joined to open orders to
    count SLA breaches by priority at the data-edge as-of. The
    mapping is a shared constant on both engines, so the key also
    pins that literal-relation construction (a Spark LocalRelation /
    DuckDB VALUES) produces identical join behavior.

    Exactness: integer day arithmetic and counts.

    Scale: the VALUES dim broadcasts by construction — the plan is a
    scan + broadcast-hash join + census, the cheapest join shape
    there is.
    """
    o = load(spark, sf_dir, "orders")
    sla = local_rows(spark, list(SLA_DAYS.items()), "priority string, sla_days int")
    asof = o.agg(F.max(F.to_date("o_orderdate")).alias("t"))
    joined = (
        o.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(asof))
        .join(F.broadcast(sla), F.col("o_orderpriority") == F.col("priority"))
        .select(
            "priority",
            "sla_days",
            F.datediff("t", F.to_date("o_orderdate")).alias("age_d"),
        )
    )
    return (
        joined.groupBy("priority")
        .agg(
            F.max("sla_days").cast("long").alias("sla_days"),
            F.count("*").alias("n_open"),
            F.sum(F.when(F.col("age_d") > F.col("sla_days"), 1).otherwise(0))
            .cast("long")
            .alias("n_breached"),
        )
        .orderBy("priority")
    )
