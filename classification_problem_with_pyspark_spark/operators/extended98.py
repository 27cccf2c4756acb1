"""Round-3 extension pack #98: semantic-version ordering.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — semantic-version comparison (semver.org: numeric
component-wise ordering, where the lexical string sort famously breaks
at "1.10.0" < "1.9.0" — the dependency-resolution bug every package
registry fixed decades ago and every ad-hoc version column reinvents) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): versions are a
deterministic synthesis from supplier keys; numeric ordering folds
the components into one comparable integer (major·1e6 + minor·1e3 +
patch) and the lexical rank rides alongside so the DIVERGENCE is a
hash-pinned column.

Scale posture (SURVEY.md §7.6): a per-row projection plus a rank — a
semantics key, priced accordingly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "scalar_semver_ordering_suite",
    oracle="""
    WITH versions AS (
        SELECT s_suppkey AS supp_key,
               CAST(s_suppkey % 3 AS VARCHAR) || '.'
                   || CAST(s_suppkey % 13 AS VARCHAR) || '.'
                   || CAST(s_suppkey % 7 AS VARCHAR) AS ver,
               CAST(s_suppkey % 3 AS BIGINT) AS major,
               CAST(s_suppkey % 13 AS BIGINT) AS minor,
               CAST(s_suppkey % 7 AS BIGINT) AS patch
        FROM supplier
    ),
    ranked AS (
        SELECT supp_key, ver,
               major * 1000000 + minor * 1000 + patch AS ver_num,
               row_number() OVER (ORDER BY major * 1000000 + minor * 1000
                                  + patch, supp_key) AS semver_rank,
               row_number() OVER (ORDER BY ver, supp_key) AS lexical_rank
        FROM versions
    )
    SELECT supp_key, ver,
           CAST(ver_num AS BIGINT) AS ver_num,
           CAST(semver_rank AS BIGINT) AS semver_rank,
           CAST(lexical_rank AS BIGINT) AS lexical_rank,
           semver_rank <> lexical_rank AS rank_diverges
    FROM ranked
    ORDER BY supp_key
    """,
)
def scalar_semver_ordering_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semver ordering (SURVEY.md §2.8): deterministic x.y.z versions
    (components from supplier-key residues, with minors reaching 10+
    so the trap is live) ranked BOTH ways — numerically
    (major·1e6 + minor·1e3 + patch, the semver contract) and
    lexically (the string sort every ad-hoc version column gets by
    default) — with the divergence flag as a column. "1.10.x" sorting
    before "1.9.x" lexically is the dependency-resolution bug this
    key pins as a hash-checked fact; the numeric fold is the fix,
    identical on both engines.

    Exactness: integer components, integer fold, total rank orders.

    Scale: per-row string building + two ranks over the dim —
    semantics keys cost nothing and prevent version-gated rollout
    bugs that cost everything.
    """
    v = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("supp_key"),
        F.concat(
            (F.col("s_suppkey") % 3).cast("string"),
            F.lit("."),
            (F.col("s_suppkey") % 13).cast("string"),
            F.lit("."),
            (F.col("s_suppkey") % 7).cast("string"),
        ).alias("ver"),
        (F.col("s_suppkey") % 3).cast("long").alias("major"),
        (F.col("s_suppkey") % 13).cast("long").alias("minor"),
        (F.col("s_suppkey") % 7).cast("long").alias("patch"),
    )
    ver_num = (
        F.col("major") * 1_000_000 + F.col("minor") * 1_000 + F.col("patch")
    )
    # De-globalized ranks (r8): both total orders tie-break on supp_key,
    # so each global rank = strictly-lower distinct-value count (bounded
    # version-grid cumsum) + a value-partitioned row_number — no supplier
    # row meets an unpartitioned window.
    rows = v.select("supp_key", "ver", ver_num.cast("long").alias("ver_num"))

    def _rank(col: str, name: str):
        hist = rows.groupBy(col).agg(F.count("*").alias("c"))
        return (
            grid_cumsum(hist, [col], [("base", "c")], keep=[col], frame_end=-1),
            Window.partitionBy(col).orderBy("supp_key"),
            name,
        )

    num_base, w_num, _ = _rank("ver_num", "semver_rank")
    lex_base, w_lex, _ = _rank("ver", "lexical_rank")
    return (
        rows.join(F.broadcast(num_base.withColumnRenamed("base", "nb")), "ver_num")
        .join(F.broadcast(lex_base.withColumnRenamed("base", "lb")), "ver")
        .select(
            "supp_key",
            "ver",
            "ver_num",
            (F.col("nb") + F.row_number().over(w_num))
            .cast("long")
            .alias("semver_rank"),
            (F.col("lb") + F.row_number().over(w_lex))
            .cast("long")
            .alias("lexical_rank"),
        )
        .withColumn(
            "rank_diverges", F.col("semver_rank") != F.col("lexical_rank")
        )
        .orderBy("supp_key")
    )
