"""Round-3 extension pack #60: DISTINCT ON emulation.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — PostgreSQL/DuckDB `DISTINCT ON` (pick ONE row per key under
an ORDER BY — the idiom Spark lacks and every migration rewrites as a
row_number window) — re-expressed on the public PySpark DataFrame API
over the driver's testdata.

Hash-parity discipline (round-3 standard): DISTINCT ON's pick order is a
total key on both engines — and the ORACLE uses DuckDB's NATIVE
`DISTINCT ON` against Spark's window emulation, so the key pins that the
rewrite is semantics-identical, not merely similar.

Scale posture (SURVEY.md §7.6): DISTINCT ON is one rank window inside
the key partitioning — scan-shaped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "relational_distinct_on",
    oracle="""
    SELECT DISTINCT ON (user_id)
           user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
    ORDER BY user_id, value DESC, event_id
    """,
)
def relational_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON emulation (SURVEY.md §2.2): each user's single
    highest-value event — PostgreSQL/DuckDB's `DISTINCT ON (key) ...
    ORDER BY key, v DESC` picks one row per key under an order, an
    idiom Spark has no keyword for. The ORACLE runs DuckDB's NATIVE
    DISTINCT ON while the Spark side runs the standard row_number
    rewrite — so this key pins, under the driver's hash, that the
    rewrite every Postgres migration performs is semantics-IDENTICAL
    (same pick, same ties), not merely similar. The tie order
    (value DESC, event_id) is total, which is exactly the discipline
    DISTINCT ON itself needs to be deterministic in Postgres.

    Exactness: integer cents; timestamps leave as µs strings.

    Scale: one rank window inside the per-key partitioning — the
    same one-shuffle shape as every top-1-per-group key; DISTINCT ON
    is syntax, not a new plan.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )
