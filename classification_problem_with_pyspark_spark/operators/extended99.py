"""Round-3 extension pack #99: group-sequential interim looks and the
bit-packing round-trip suite.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — group-sequential experiment monitoring (interim z looks
against O'Brien–Fleming-style boundaries so peeking doesn't inflate
alpha; O'Brien & Fleming 1979, the design every regulated trial and
every honest A/B dashboard uses) and integer bit-packing (several
small fields shifted into one word — the encoding behind composite
keys, bitboards, and every columnar dictionary index) — re-expressed
on the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): arms are md5-assigned, the
per-look z folds the t-test discipline (exact cumulative counts, one
ROUND-6 double close), and the boundary literals are shared constants
so the crossed flag is a deterministic comparison of a ROUND-6 value
against a literal (boundary z values chosen away from attainable
statistic values — no knife-edge). Bit-packing is pure shift/mask
integer algebra with the unpack identity asserted field by field.

Scale posture (SURVEY.md §7.6): the looks table is one daily
conditional count + running windows; packing is per-row codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

LOOK_GATE = 50  # conversion: value > 50
# O'Brien-Fleming-flavored weekly boundaries (4 looks), shared literals
OBF_BOUNDS = (4.332634, 2.963132, 2.359044, 2.014090)


@register(
    "events_group_sequential_looks",
    oracle=f"""
    WITH assigned AS (
        SELECT (EXTRACT(day FROM ts) - 1) // 7 AS wk,
               CAST(('0x' || substr(md5('arm_' || CAST(event_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 2 AS arm,
               CASE WHEN value > {LOOK_GATE} THEN 1 ELSE 0 END AS conv
        FROM events
        WHERE (EXTRACT(day FROM ts) - 1) // 7 <= 3
    ),
    weekly AS (
        SELECT wk,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
        FROM assigned GROUP BY wk
    ),
    looks AS (
        SELECT wk,
               CAST(SUM(n0) OVER w AS BIGINT) AS cn0,
               CAST(SUM(n1) OVER w AS BIGINT) AS cn1,
               CAST(SUM(c0) OVER w AS BIGINT) AS cc0,
               CAST(SUM(c1) OVER w AS BIGINT) AS cc1
        FROM weekly
        WINDOW w AS (ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    stats AS (
        SELECT wk, cn0, cn1, cc0, cc1,
               ROUND((CAST(cc1 AS DOUBLE) / cn1 - CAST(cc0 AS DOUBLE) / cn0)
                     / sqrt((CAST(cc0 + cc1 AS DOUBLE) / (cn0 + cn1))
                            * (1.0 - CAST(cc0 + cc1 AS DOUBLE) / (cn0 + cn1))
                            * (1.0 / cn0 + 1.0 / cn1)), 6) AS z
        FROM looks
    )
    SELECT CAST(wk + 1 AS BIGINT) AS look, cn0 + cn1 AS cum_n,
           cc0 + cc1 AS cum_conversions, z,
           CAST(CASE wk WHEN 0 THEN {OBF_BOUNDS[0]} WHEN 1 THEN {OBF_BOUNDS[1]}
                   WHEN 2 THEN {OBF_BOUNDS[2]} ELSE {OBF_BOUNDS[3]} END
                AS DOUBLE) AS boundary,
           abs(z) > CASE wk WHEN 0 THEN {OBF_BOUNDS[0]}
                            WHEN 1 THEN {OBF_BOUNDS[1]}
                            WHEN 2 THEN {OBF_BOUNDS[2]}
                            ELSE {OBF_BOUNDS[3]} END AS crossed
    FROM stats
    ORDER BY look
    """,
)
def events_group_sequential_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential looks (SURVEY.md §2.4): four weekly interim
    analyses of an md5-assigned A/B on the conversion gate, each
    look's pooled two-proportion z tested against O'Brien–Fleming-
    flavored boundaries (very strict early, near-nominal late — the
    spending schedule that makes peeking honest; O'Brien & Fleming
    1979). An A/A by construction (both arms are the same hash coin),
    so no boundary should cross — the null behavior every monitoring
    pipeline must verify BEFORE it monitors anything real, and the
    hash pins it.

    Exactness: exact cumulative counts; the z close is one ROUND-6
    double (the t-test discipline); boundaries are shared literals
    far from attainable z values (no knife-edge flag).

    Scale: one conditional weekly count + running windows — interim
    monitoring is a ledger, and ledgers must be cheap.
    """
    day = F.dayofmonth("ts")
    arm = md5_long(F.concat(F.lit("arm_"), F.col("event_id").cast("string"))) % 2
    assigned = (
        load(spark, sf_dir, "events")
        .select(
            (((day - 1) / 7).cast("long")).alias("wk"),
            arm.alias("arm"),
            F.when(F.col("value") > LOOK_GATE, 1).otherwise(0).alias("conv"),
        )
        .where(F.col("wk") <= 3)
    )
    weekly = assigned.groupBy("wk").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    looks = grid_cumsum(
        weekly,
        ["wk"],
        [("cn0", "n0"), ("cn1", "n1"), ("cc0", "c0"), ("cc1", "c1")],
        keep=["wk"],
    )
    p_pool = (F.col("cc0") + F.col("cc1")).cast("double") / (
        F.col("cn0") + F.col("cn1")
    )
    z = F.round(
        (
            F.col("cc1").cast("double") / F.col("cn1")
            - F.col("cc0").cast("double") / F.col("cn0")
        )
        / F.sqrt(
            p_pool * (1.0 - p_pool) * (1.0 / F.col("cn0") + 1.0 / F.col("cn1"))
        ),
        6,
    )
    boundary = (
        F.when(F.col("wk") == 0, OBF_BOUNDS[0])
        .when(F.col("wk") == 1, OBF_BOUNDS[1])
        .when(F.col("wk") == 2, OBF_BOUNDS[2])
        .otherwise(OBF_BOUNDS[3])
    )
    return (
        looks.select(
            (F.col("wk") + 1).cast("long").alias("look"),
            (F.col("cn0") + F.col("cn1")).cast("long").alias("cum_n"),
            (F.col("cc0") + F.col("cc1")).cast("long").alias("cum_conversions"),
            z.alias("z"),
            boundary.alias("boundary"),
            (F.abs(z) > boundary).alias("crossed"),
        )
        .orderBy("look")
    )


@register(
    "scalar_bitpack_roundtrip_suite",
    oracle="""
    WITH packed AS (
        SELECT l_orderkey AS k, l_linenumber AS ln,
               CAST(l_partkey AS BIGINT) AS part,
               CAST(l_suppkey AS BIGINT) AS supp,
               CAST(l_quantity AS BIGINT) AS qty,
               (CAST(l_partkey AS BIGINT) << 32)
                   | (CAST(l_suppkey AS BIGINT) << 12)
                   | CAST(l_quantity AS BIGINT) AS word
        FROM lineitem
    )
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN (word >> 32) = part
                       AND ((word >> 12) & 1048575) = supp
                       AND (word & 4095) = qty
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
        CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct_words,
        CAST(COUNT(DISTINCT (part, supp, qty)) AS BIGINT)
            AS n_distinct_triples,
        CAST(MIN(word) AS BIGINT) AS min_word,
        CAST(MAX(word) AS BIGINT) AS max_word
    FROM packed
    """,
)
def scalar_bitpack_roundtrip_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-packing round-trip (SURVEY.md §2.8): pack (partkey, suppkey,
    quantity) into one BIGINT — part ≪ 32 | supp ≪ 12 | qty — and
    verify the shift/mask unpack recovers every field on every row,
    that distinct packed words equal distinct source triples (packing
    is injective when fields respect their widths — the composite-key
    property dictionary encoders and bitboards rely on), and the word
    range. Shift and mask semantics agreeing across engines is the
    real content: `<<`/`>>`/`&` on BIGINT must mean the same thing
    everywhere a packed key travels.

    Exactness: pure integer bit algebra; field widths (20/12 bits for
    supp/qty) verified wide enough for the fixture's domains by the
    round-trip itself.

    Scale: per-row codegen + one census — encodings are free, their
    silent corruption is not.
    """
    packed = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("long").alias("part"),
        F.col("l_suppkey").cast("long").alias("supp"),
        F.col("l_quantity").cast("long").alias("qty"),
        (
            F.shiftleft(F.col("l_partkey").cast("long"), 32)
            .bitwiseOR(F.shiftleft(F.col("l_suppkey").cast("long"), 12))
            .bitwiseOR(F.col("l_quantity").cast("long"))
        ).alias("word"),
    )
    ok = (
        (F.shiftright(F.col("word"), 32) == F.col("part"))
        & (F.shiftright(F.col("word"), 12).bitwiseAND(F.lit(1048575)) == F.col("supp"))
        & (F.col("word").bitwiseAND(F.lit(4095)) == F.col("qty"))
    )
    return packed.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("n_roundtrip_ok"),
        F.countDistinct("word").alias("n_distinct_words"),
        F.countDistinct("part", "supp", "qty").alias("n_distinct_triples"),
        F.min("word").cast("long").alias("min_word"),
        F.max("word").cast("long").alias("max_word"),
    )
