"""Round-3 extension pack #36: the remaining SQL generator surface
(stack / inline / posexplode_outer) and replication block checksums.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — Spark SQL's table-generating functions (stack's inline
unpivot, inline's struct-array explode, posexplode_outer's
NULL-preserving positional explode) and block-level replication
checksumming (the pt-table-checksum recipe: order-insensitive per-block
hash sums let two replicas diff cheaply and bisect divergence) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): generator outputs normalize
to one (gen, key, pos, attr, val) relation with string payloads; the
oracle states each generator's SEMANTICS in portable SQL (UNION ALL for
stack, struct unnest for inline, LEFT JOIN explode for outer) — the
point is that Spark's generator shorthands equal their relational
expansions. Checksums are sums of md5-residue integers over canonical
row strings built ONLY from exactly-representable pieces (keys, cents,
status) — order-insensitive by construction, bounded to 1e12 per row so
block sums never overflow.

Scale posture (SURVEY.md §7.6): generators run on the bounded nation
dim; the checksum is one narrow projection + a block-keyed
map-side-combinable sum — the audit costs one scan per replica, and
divergent blocks bisect without moving data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

CHECKSUM_BLOCK = 100  # orders per checksum block


@register(
    "scalar_generator_suite",
    oracle="""
    WITH stacked AS (
        SELECT 'stack' AS gen, n_nationkey AS key, CAST(NULL AS BIGINT) AS pos,
               'name' AS attr, n_name AS val
        FROM nation
        UNION ALL
        SELECT 'stack', n_nationkey, NULL, 'region',
               CAST(n_regionkey AS VARCHAR)
        FROM nation
    ),
    inlined AS (
        SELECT 'inline' AS gen, n_nationkey AS key, CAST(NULL AS BIGINT) AS pos,
               'first' AS attr, substr(n_name, 1, 1) AS val
        FROM nation
        UNION ALL
        SELECT 'inline', n_nationkey, NULL, 'last',
               substr(n_name, length(n_name), 1)
        FROM nation
    ),
    arrs AS (
        SELECT n_nationkey, list_slice(string_split(n_name, ''), 1,
                                       n_nationkey % 3) AS arr
        FROM nation
    ),
    outer_exploded AS (
        SELECT 'posexplode_outer' AS gen, a.n_nationkey AS key,
               CAST(e.i - 1 AS BIGINT) AS pos,
               'char' AS attr, e.v AS val
        FROM arrs a
        LEFT JOIN (
            SELECT n_nationkey, generate_subscripts(arr, 1) AS i,
                   unnest(arr) AS v
            FROM arrs WHERE len(arr) > 0
        ) e ON a.n_nationkey = e.n_nationkey
    )
    SELECT gen, CAST(key AS BIGINT) AS key, pos, attr, val FROM stacked
    UNION ALL
    SELECT gen, CAST(key AS BIGINT), pos, attr, val FROM inlined
    UNION ALL
    SELECT gen, CAST(key AS BIGINT), pos,
           CASE WHEN pos IS NULL THEN NULL ELSE attr END,
           val
    FROM outer_exploded
    ORDER BY gen, key, pos NULLS FIRST, attr NULLS FIRST, val
    """,
)
def scalar_generator_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-generating function surface (SURVEY.md §2.8): Spark SQL's
    `stack` (inline unpivot), `inline` (struct-array explode), and
    `posexplode_outer` (positional explode that KEEPS rows whose array
    is empty, as NULLs) — the three generators the suites had not yet
    pinned, each normalized into one (gen, key, pos, attr, val)
    relation. The oracle states each generator's relational EXPANSION
    (UNION ALL / struct unnest / LEFT JOIN explode), so a hash match
    proves the shorthand equals its textbook desugaring.

    Exactness: all payloads are strings built from dim columns; the
    empty-array rows surface as NULL (pos, attr, val) triples on both
    engines.

    Scale: generators multiply rows — here over the bounded nation dim;
    at fact scale the same expansion is the plan shape and the
    generator's cost IS the output cardinality, which is the point of
    pinning it.
    """
    n = load(spark, sf_dir, "nation")
    stacked = n.select(
        F.lit("stack").alias("gen"),
        F.col("n_nationkey").cast("long").alias("key"),
        F.expr(
            "stack(2, 'name', n_name, 'region', CAST(n_regionkey AS STRING))"
        ).alias("attr", "val"),
    ).select("gen", "key", F.lit(None).cast("long").alias("pos"), "attr", "val")
    inlined = n.select(
        F.lit("inline").alias("gen"),
        F.col("n_nationkey").cast("long").alias("key"),
        F.expr(
            "inline(array(struct('first' AS attr, substr(n_name, 1, 1) AS val),"
            " struct('last' AS attr,"
            " substr(n_name, length(n_name), 1) AS val)))"
        ).alias("attr", "val"),
    ).select("gen", "key", F.lit(None).cast("long").alias("pos"), "attr", "val")
    arrs = n.select(
        F.col("n_nationkey").cast("long").alias("key"),
        F.expr("slice(split(n_name, ''), 1, n_nationkey % 3)").alias("arr"),
    )
    outer = arrs.select(
        F.lit("posexplode_outer").alias("gen"),
        "key",
        F.posexplode_outer("arr").alias("pos", "val"),
    ).select(
        "gen",
        "key",
        F.col("pos").cast("long").alias("pos"),
        F.when(F.col("pos").isNotNull(), F.lit("char")).alias("attr"),
        "val",
    )
    return (
        stacked.unionByName(inlined)
        .unionByName(outer)
        .orderBy("gen", "key", F.asc_nulls_first("pos"),
                 F.asc_nulls_first("attr"), "val")
    )


@register(
    "audit_replication_checksum",
    oracle=f"""
    WITH rows_h AS (
        SELECT o_orderkey // {CHECKSUM_BLOCK} AS block_id,
               CAST(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|'
                   || CAST(o_custkey AS VARCHAR) || '|'
                   || CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                           AS VARCHAR) || '|'
                   || o_orderstatus), 1, 15)) AS BIGINT) % 1000000000000
                   AS row_h
        FROM orders
    )
    SELECT CAST(block_id AS BIGINT) AS block_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(row_h) AS BIGINT) AS checksum
    FROM rows_h GROUP BY block_id ORDER BY block_id
    """,
)
def audit_replication_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication block checksums over orders (SURVEY.md §2.4 audit
    family): rows canonicalize to a key|custkey|cents|status string,
    hash to a bounded md5 residue, and SUM order-insensitively within
    key-range blocks of {CHECKSUM_BLOCK} — the pt-table-checksum
    recipe: two replicas each compute this table locally, diff the
    ~n/{CHECKSUM_BLOCK} block rows, and bisect only divergent blocks.
    The very hash match against DuckDB here IS the cross-replica run:
    two independent engines agreeing block-by-block on the same data.

    Exactness: the canonical string uses only exactly-representable
    pieces (integers, cents, status — never raw double formatting,
    which differs across engines); residues bound at 1e12 so a block
    sum stays far below 2^63.

    Scale: one narrow projection + a block-keyed map-side-combinable
    sum; the comparison moves ~rows/{CHECKSUM_BLOCK} tiny rows instead
    of data.
    """
    o = load(spark, sf_dir, "orders")
    row_h = (
        md5_long(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"),
                F.col("o_orderstatus"),
            )
        )
        % 1000000000000
    )
    return (
        o.select(
            F.expr(f"o_orderkey DIV {CHECKSUM_BLOCK}").alias("block_id"),
            row_h.alias("row_h"),
        )
        .groupBy("block_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("row_h").cast("long").alias("checksum"),
        )
        .orderBy("block_id")
    )
