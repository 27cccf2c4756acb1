"""Round-3 extension pack #6: embedding-column profiling for training-data
pipelines (per-label norm stats, distributed centroids, per-dimension
variance ranking, int8 quantization audit) and the multi-stage quality
filter funnel.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. All patterns here are public
knowledge — L2-norm/centroid profiling and symmetric int8 quantization as
used by public vector-search stacks (FAISS-style scale=amax/127), and the
retention-funnel report every public corpus-cleaning pipeline emits —
expressed on the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (the round-3 lesson): every cross-row float
aggregate here is computed in INTEGER micro-units — each element is cast
float32→double (exact widening), combined with deterministic IEEE double
ops, rounded to a scaled BIGINT per element/row, and only then summed — so
sums are order-insensitive exact integers and the final division is a
single deterministic double op on both engines. No transcendentals except
sqrt (IEEE-exact). DuckDB SUM(BIGINT)→HUGEINT promotions are CAST back
(tests/parity.py bans HUGEINT outputs).

Scale posture (SURVEY.md §7.6):
- Per-vector ops (norms, quantization) are embarrassingly parallel row
  maps in whole-stage codegen — no shuffle, no Python.
- Centroid/variance aggregate via posexplode → groupBy(label/dim): the
  shuffle key has bounded cardinality (labels × 64 dims), partial
  aggregation absorbs the fan-out map-side, and no vector is ever
  collected to the driver — the standard wide-vector reduction at 100 TB.
- The funnel is one pass of conditional aggregation over the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum, grid_rank
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows


def _sumsq_micro(col: F.Column) -> F.Column:
    """Sum of per-element round(x², µ-units) over an array<float> — an exact
    BIGINT, identical on both engines by construction."""
    return F.aggregate(
        col,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.round(x.cast("double") * x.cast("double") * 1000000).cast("long"),
    )


@register(
    "emb_vector_stats",
    oracle="""
    WITH per_vec AS (
        SELECT label,
               sqrt(CAST(list_sum(list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                        * 1000000) AS BIGINT)))
                    AS DOUBLE) / 1000000.0) AS l2_norm
        FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vectors,
           ROUND(CAST(SUM(CAST(round(l2_norm * 1000000) AS BIGINT)) AS BIGINT)
                 / (COUNT(*) * 1000000.0), 6) AS mean_norm,
           ROUND(MIN(l2_norm), 6) AS min_norm,
           ROUND(MAX(l2_norm), 6) AS max_norm
    FROM per_vec
    GROUP BY label
    """,
)
def emb_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile of the embedding column — the first
    sanity report on any vector corpus (un-normalized vectors, collapsed
    labels, dead inputs all show up here before ANN quality does).

    Per-row sumsq folds in µ-units (exact BIGINT), sqrt is IEEE-exact,
    and the per-label mean is again a µ-unit integer sum divided once —
    zero order-sensitive float aggregation anywhere. The row map runs in
    whole-stage codegen; the only shuffle is the 10-key label groupBy.
    """
    e = spread(load(spark, sf_dir, "embeddings"), "vec_id")
    per_vec = e.select(
        "label",
        F.sqrt(_sumsq_micro(F.col("embedding")).cast("double") / 1000000.0).alias(
            "l2_norm"
        ),
    )
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(
            F.sum(F.round(F.col("l2_norm") * 1000000).cast("long"))
            / (F.count("*") * 1000000.0),
            6,
        ).alias("mean_norm"),
        F.round(F.min("l2_norm"), 6).alias("min_norm"),
        F.round(F.max("l2_norm"), 6).alias("max_norm"),
    )


@register(
    "emb_centroid_per_label",
    oracle="""
    WITH exploded AS (
        SELECT label,
               generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS micro
        FROM embeddings
    )
    SELECT label, dim,
           COUNT(*) AS n_vectors,
           ROUND(CAST(SUM(micro) AS BIGINT) / (COUNT(*) * 1000000.0), 6)
               AS centroid
    FROM exploded
    GROUP BY label, dim
    """,
)
def emb_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, computed the
    distributed way: posexplode to (label, dim, µ-unit value) and reduce
    per (label, dim) — never a driver-side vector accumulation. The
    shuffle key cardinality is labels × dims (640 here), so partial
    aggregation absorbs the 64× row fan-out map-side; this is the
    canonical wide-vector mean at 100 TB (the same shape IVF coarse
    quantizer training uses per cell).

    µ-unit integer sums make the centroid a ratio of exact integers —
    deterministic on both engines regardless of row order.
    """
    e = spread(load(spark, sf_dir, "embeddings"), "vec_id")
    exploded = e.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "dim",
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("micro"),
    )
    return exploded.groupBy("label", "dim").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.sum("micro") / (F.count("*") * 1000000.0), 6).alias("centroid"),
    )


@register(
    "emb_dim_variance_topk",
    oracle="""
    WITH exploded AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS micro,
               CAST(round(CAST(unnest(embedding) AS DOUBLE)
                          * CAST(unnest(embedding) AS DOUBLE)
                          * 1000000000000) AS BIGINT) AS micro_sq
        FROM embeddings
    ), stats AS (
        SELECT dim,
               COUNT(*) AS n,
               CAST(SUM(micro) AS BIGINT) AS s1,
               CAST(SUM(micro_sq) AS BIGINT) AS s2
        FROM exploded GROUP BY dim
    ), ranked AS (
        SELECT dim, n,
               ROUND(s2 / (n * 1e12) - (s1 / (n * 1e6)) * (s1 / (n * 1e6)), 8)
                   AS variance,
               ROW_NUMBER() OVER (
                   ORDER BY ROUND(s2 / (n * 1e12)
                                  - (s1 / (n * 1e6)) * (s1 / (n * 1e6)), 8) DESC,
                            dim) AS rank
        FROM stats
    )
    SELECT rank, dim, n AS n_vectors, variance FROM ranked WHERE rank <= 8
    """,
)
def emb_dim_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 embedding dimensions by variance — the feature-selection /
    dead-dimension report (a dim with ~zero variance carries no signal;
    one with outsized variance dominates unnormalized distances).

    One exploded pass accumulates per-dim Σx and Σx² as exact µ-unit
    integers (E[x²]−E[x]² needs no second pass), the ranking window runs
    over the 64-row aggregate — bounded, never over raw rows. Variance is
    rounded BEFORE ranking so the order itself is reproducible across
    engines, with dim as the tiebreaker.
    """
    e = spread(load(spark, sf_dir, "embeddings"), "vec_id")
    xd = F.col("x").cast("double")
    exploded = e.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim",
        F.round(xd * 1000000).cast("long").alias("micro"),
        F.round(xd * xd * 1000000000000).cast("long").alias("micro_sq"),
    )
    stats = exploded.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("micro").alias("s1"),
        F.sum("micro_sq").alias("s2"),
    )
    mean = F.col("s1") / (F.col("n") * 1e6)
    variance = F.round(F.col("s2") / (F.col("n") * 1e12) - mean * mean, 8)
    ranked = grid_rank(
        stats.select("dim", "n", variance.alias("variance")),
        [F.desc("variance"), F.asc("dim")],
        "rank",
    )
    return ranked.where(F.col("rank") <= 8).select(
        "rank", "dim", F.col("n").alias("n_vectors"), "variance"
    )


@register(
    "emb_quantize_int8",
    oracle="""
    WITH prepped AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               list_max(list_transform(embedding,
                                       x -> abs(CAST(x AS DOUBLE)))) AS amax
        FROM embeddings
    ), quant AS (
        SELECT vec_id, label, amax, e,
               CASE WHEN amax = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(e,
                         x -> CAST(round(x * 127.0 / amax) AS BIGINT))
               END AS q
        FROM prepped
    )
    SELECT vec_id, label,
           CAST(round(amax / 127.0 * 1000000000) AS BIGINT) AS scale_e9,
           CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS sum_abs_q,
           CAST(list_sum(list_transform(
                    list_zip(e, q),
                    p -> CAST(round((p[1] - p[2] * (amax / 127.0))
                                    * (p[1] - p[2] * (amax / 127.0))
                                    * 1000000000000) AS BIGINT)))
                AS BIGINT) AS sq_err_e12
    FROM quant
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit (scale = amax/127, the standard
    vector-index compression): per vector, the scale, the L1 mass of the
    quantized codes, and the exact µ²-unit squared reconstruction error —
    the report that decides whether an ANN index can run int8.

    Every output is an exact integer (scale in e-9 units, errors in e-12
    units) — per-row deterministic double arithmetic, zero cross-row
    float aggregation, so the hash can never flake. Pure row map: no
    shuffle, no Python, whole-stage codegen end to end.
    """
    e0 = spread(load(spark, sf_dir, "embeddings"), "vec_id")
    ed = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    prepped = e0.select(
        "vec_id",
        "label",
        ed.alias("e"),
        F.array_max(F.expr("transform(embedding, x -> abs(CAST(x AS DOUBLE)))")).alias(
            "amax"
        ),
    )
    quant = prepped.withColumn(
        "q",
        F.when(
            F.col("amax") == 0,
            F.expr("transform(e, x -> CAST(0 AS BIGINT))"),
        ).otherwise(
            F.expr("transform(e, x -> CAST(round(x * 127.0 / amax) AS BIGINT))")
        ),
    )
    recon = F.expr(
        "aggregate(zip_with(e, q, (x, qi) -> "
        "CAST(round((x - qi * (amax / 127.0)) * (x - qi * (amax / 127.0)) "
        "* 1000000000000) AS BIGINT)), 0L, (acc, v) -> acc + v)"
    )
    return quant.select(
        "vec_id",
        "label",
        F.round(F.col("amax") / 127.0 * 1000000000).cast("long").alias("scale_e9"),
        F.expr("aggregate(q, 0L, (acc, v) -> acc + abs(v))").alias("sum_abs_q"),
        recon.alias("sq_err_e12"),
    )


@register(
    "llm_filter_funnel",
    oracle="""
    WITH gated AS (
        SELECT source,
               (n_chars BETWEEN 100 AND 20000) AS g_len,
               len(string_split(text, ' ')) >= 20 AS g_words,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) >= 0.3 AS g_unique
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN g_len THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_len,
           CAST(SUM(CASE WHEN g_len AND g_words THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass_words,
           CAST(SUM(CASE WHEN g_len AND g_words AND g_unique THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass_all,
           ROUND(CAST(SUM(CASE WHEN g_len AND g_words AND g_unique
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS retention
    FROM gated
    GROUP BY source
    """,
)
def llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stage quality filter funnel — the per-source retention
    report every corpus-cleaning pipeline emits (which stage kills which
    source's documents): length gate → minimum word count → unique-word
    ratio, with sequential pass counts and final retention.

    One pass of conditional aggregation over the scan (all three gates
    evaluate per row in codegen; no per-stage jobs, no Python). At 100 TB
    this is the cheapest possible shape: scan + map-side partial agg on
    the low-cardinality source key.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    words = F.split("text", " ")
    g_len = F.col("n_chars").between(100, 20000)
    g_words = F.size(words) >= 20
    g_unique = (
        F.size(F.array_distinct(words)).cast("double") / F.size(words) >= 0.3
    )
    gated = d.select(
        "source",
        g_len.alias("g_len"),
        g_words.alias("g_words"),
        g_unique.alias("g_unique"),
    )
    pass_all = F.col("g_len") & F.col("g_words") & F.col("g_unique")
    return gated.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("g_len").cast("long")).alias("n_pass_len"),
        F.sum((F.col("g_len") & F.col("g_words")).cast("long")).alias("n_pass_words"),
        F.sum(pass_all.cast("long")).alias("n_pass_all"),
        F.round(F.sum(pass_all.cast("long")).cast("double") / F.count("*"), 6).alias(
            "retention"
        ),
    )


@register(
    "stream_dedup_watermark",
    oracle="""
    WITH ranked AS (
        SELECT event_id, user_id, event_type, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
    FROM ranked WHERE rn = 1
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``dropDuplicatesWithinWatermark`` (streaming/
    wrappers.py ``dedup_within_watermark_stream``): first event per
    (user_id, event_type) key — the stateful streaming dedup whose state
    the watermark bounds. The batch form pins WHICH row survives
    (earliest by (ts, event_id) — a total order), making the semantics
    oracle-checkable; the streaming wrapper keeps whichever arrives
    first, which coincides with this on an in-order replay.

    One shuffle on the dedup key with WindowGroupLimit pruning candidates
    map-side to 1 row/group before the exchange — the scale shape of
    keyed dedup.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        )
    )


@register(
    "agg_histogram_sketch_quantiles",
    oracle="""
    WITH buckets AS (
        SELECT CAST(FLOOR(o_totalprice / 5000) AS BIGINT) AS bucket,
               COUNT(*) AS cnt
        FROM orders GROUP BY 1
    ), cum AS (
        SELECT bucket, cnt,
               CAST(SUM(cnt) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cnt,
               CAST(SUM(cnt) OVER () AS BIGINT) AS n_total
        FROM buckets
    ), qs AS (
        SELECT CAST(q AS DOUBLE) AS q
        FROM (VALUES (0.5), (0.9), (0.99)) v(q)
    ), hit AS (
        SELECT q, bucket, cnt, cum_cnt, n_total,
               ROW_NUMBER() OVER (PARTITION BY q ORDER BY bucket) AS rn
        FROM qs JOIN cum ON cum_cnt >= q * n_total
    )
    SELECT q, n_total,
           ROUND(bucket * 5000.0
                 + 5000.0 * (q * n_total - (cum_cnt - cnt)) / cnt, 6)
               AS est_value
    FROM hit WHERE rn = 1
    """,
)
def agg_histogram_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram sketch → quantile estimates (p50/
    p90/p99 of o_totalprice with linear interpolation inside the hit
    bucket) — the one-pass, partial-aggregable quantile pattern at
    100 TB: per-partition bucket counts merge by addition (unlike exact
    percentiles, which need a sort), and the estimation runs on the
    ~100-row bucket table.

    Determinism: bucket counts are exact integers; the interpolation is
    one deterministic double expression per quantile on both engines.
    """
    o = load(spark, sf_dir, "orders")
    buckets = o.groupBy(
        F.floor(F.col("o_totalprice") / 5000).cast("long").alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    tot = buckets.agg(F.sum("cnt").alias("n_total"))
    cum = grid_cumsum(
        buckets.crossJoin(F.broadcast(tot)),
        ["bucket"],
        [("cum_cnt", "cnt")],
        keep=["bucket", "cnt", "n_total"],
    )
    qs = local_rows(spark, [(0.5,), (0.9,), (0.99,)], "q double")
    hit = (
        qs.join(cum, F.col("cum_cnt") >= F.col("q") * F.col("n_total"))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("q").orderBy("bucket")),
        )
        .where(F.col("rn") == 1)
    )
    est = (
        F.col("bucket") * 5000.0
        + 5000.0
        * (F.col("q") * F.col("n_total") - (F.col("cum_cnt") - F.col("cnt")))
        / F.col("cnt")
    )
    return hit.select("q", "n_total", F.round(est, 6).alias("est_value"))


@register(
    "join_bloom_prefilter",
    oracle="""
    WITH dimkeys AS (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'GERMANY'
    ), bloom AS (
        SELECT DISTINCT pos FROM (
            SELECT CAST(('0x' || substr(md5('b1_' || CAST(s_suppkey AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1024 AS pos FROM dimkeys
            UNION ALL
            SELECT CAST(('0x' || substr(md5('b2_' || CAST(s_suppkey AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1024 FROM dimkeys
        ) p
    ), fact AS (
        SELECT l_suppkey,
               CAST(('0x' || substr(md5('b1_' || CAST(l_suppkey AS VARCHAR)), 1, 15))
                    AS BIGINT) % 1024 AS p1,
               CAST(('0x' || substr(md5('b2_' || CAST(l_suppkey AS VARCHAR)), 1, 15))
                    AS BIGINT) % 1024 AS p2
        FROM lineitem
    ), flagged AS (
        SELECT l_suppkey,
               (p1 IN (SELECT pos FROM bloom)
                AND p2 IN (SELECT pos FROM bloom)) AS bloom_pass,
               l_suppkey IN (SELECT s_suppkey FROM dimkeys) AS true_match
        FROM fact
    )
    SELECT COUNT(*) AS n_fact_rows,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_pass,
           CAST(SUM(CASE WHEN true_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_match,
           ROUND(CAST(SUM(CASE WHEN bloom_pass AND NOT true_match
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS false_positive_rate
    FROM flagged
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join prefilter, made explicit: a 1024-bit / 2-hash
    filter built from the selective dim side (GERMANY suppliers) probes
    the fact scan BEFORE the exact join — the runtime-filter pattern that
    at 100 TB turns a full-fact shuffle join into a scan that drops most
    rows at the source (Spark's own `spark.sql.optimizer.runtime.
    bloomFilter` does this invisibly; this key measures what it buys:
    pass count + false-positive rate).

    Both bit-position probes and the exact membership check run as
    broadcast (semi-)joins against the bounded dim/bit tables — no
    driver-side set, no UDF; md5-derived positions keep the two engines
    bit-identical.
    """
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = load(spark, sf_dir, "lineitem").select("l_suppkey")

    def pos(col: F.Column, salt: str) -> F.Column:
        return md5_long(F.concat(F.lit(salt), col.cast("string"))) % 1024

    dimkeys = s.join(
        F.broadcast(n.where(F.col("n_name") == "GERMANY")),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey")
    bloom = (
        dimkeys.select(pos(F.col("s_suppkey"), "b1_").alias("pos"))
        .union(dimkeys.select(pos(F.col("s_suppkey"), "b2_").alias("pos")))
        .distinct()
    )
    fact = li.select(
        "l_suppkey",
        pos(F.col("l_suppkey"), "b1_").alias("p1"),
        pos(F.col("l_suppkey"), "b2_").alias("p2"),
    )
    b1 = bloom.select(F.col("pos").alias("bp1")).withColumn("hit1", F.lit(True))
    b2 = bloom.select(F.col("pos").alias("bp2")).withColumn("hit2", F.lit(True))
    dk = dimkeys.withColumn("is_dim", F.lit(True))
    flagged = (
        fact.join(F.broadcast(b1), fact.p1 == F.col("bp1"), "left")
        .join(F.broadcast(b2), fact.p2 == F.col("bp2"), "left")
        .join(F.broadcast(dk), fact.l_suppkey == dk.s_suppkey, "left")
        .select(
            (F.coalesce(F.col("hit1"), F.lit(False))
             & F.coalesce(F.col("hit2"), F.lit(False))).alias("bloom_pass"),
            F.coalesce(F.col("is_dim"), F.lit(False)).alias("true_match"),
        )
    )
    return flagged.agg(
        F.count("*").alias("n_fact_rows"),
        F.sum(F.col("bloom_pass").cast("long")).alias("n_bloom_pass"),
        F.sum(F.col("true_match").cast("long")).alias("n_true_match"),
        F.round(
            F.sum((F.col("bloom_pass") & ~F.col("true_match")).cast("long")).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("false_positive_rate"),
    )


@register(
    "agg_count_min_sketch",
    oracle="""
    WITH hashed AS (
        SELECT o_custkey,
               CAST(('0x' || substr(md5('cms0_' || CAST(o_custkey AS VARCHAR)), 1, 15))
                    AS BIGINT) % 256 AS p0,
               CAST(('0x' || substr(md5('cms1_' || CAST(o_custkey AS VARCHAR)), 1, 15))
                    AS BIGINT) % 256 AS p1
        FROM orders
    ), row0 AS (
        SELECT p0 AS pos, COUNT(*) AS cnt FROM hashed GROUP BY p0
    ), row1 AS (
        SELECT p1 AS pos, COUNT(*) AS cnt FROM hashed GROUP BY p1
    ), truth AS (
        SELECT o_custkey, COUNT(*) AS true_cnt,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, o_custkey) AS rk
        FROM hashed GROUP BY o_custkey
    )
    SELECT t.o_custkey AS custkey, t.true_cnt,
           CAST(least(r0.cnt, r1.cnt) AS BIGINT) AS est_cnt,
           CAST(least(r0.cnt, r1.cnt) - t.true_cnt AS BIGINT) AS overcount
    FROM truth t
    JOIN hashed h ON t.o_custkey = h.o_custkey
    JOIN row0 r0 ON h.p0 = r0.pos
    JOIN row1 r1 ON h.p1 = r1.pos
    WHERE t.rk <= 10
    GROUP BY ALL
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (width 256 × depth 2, md5-salted rows) for
    heavy-hitter frequency estimation, validated against exact counts for
    the top-10 keys — the mergeable frequency sketch at 100 TB: each
    partition's 512-cell grid merges by addition, unlike an exact
    per-key count whose key space is unbounded. The one-sided overcount
    column is the sketch's signature error (CMS never undercounts).

    Everything is exact integers over md5-derived positions — both
    engines agree bit-for-bit.
    """
    o = load(spark, sf_dir, "orders").select("o_custkey")

    def pos(salt: str) -> F.Column:
        return md5_long(F.concat(F.lit(salt), F.col("o_custkey").cast("string"))) % 256

    hashed = o.select("o_custkey", pos("cms0_").alias("p0"), pos("cms1_").alias("p1"))
    row0 = hashed.groupBy(F.col("p0").alias("pos")).agg(F.count("*").alias("cnt0"))
    row1 = hashed.groupBy(F.col("p1").alias("pos")).agg(F.count("*").alias("cnt1"))
    truth = (
        hashed.groupBy("o_custkey")
        .agg(F.count("*").alias("true_cnt"), F.first("p0").alias("p0"), F.first("p1").alias("p1"))
    )
    # r9: the per-customer truth table is ENTITY-scale, so the top-10
    # selection is the bucket-stitch top-k — only head count-buckets are
    # ranked, each hash-partitioned; no customer-scale single-task sort.
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_topk,
    )

    truth = bucketed_global_topk(
        truth, "true_cnt", [F.asc("o_custkey")], 10, out="rk"
    )
    est = F.least(F.col("cnt0"), F.col("cnt1"))
    return (
        truth.join(F.broadcast(row0), truth.p0 == row0.pos)
        .join(F.broadcast(row1), truth.p1 == row1.pos)
        .select(
            F.col("o_custkey").alias("custkey"),
            "true_cnt",
            est.alias("est_cnt"),
            (est - F.col("true_cnt")).alias("overcount"),
        )
    )


@register(
    "events_ks_drift",
    oracle="""
    WITH tagged AS (
        SELECT event_type, value,
               CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END AS in_a
        FROM events
    ), by_value AS (
        SELECT event_type, value,
               CAST(SUM(in_a) AS BIGINT) AS ca,
               CAST(SUM(1 - in_a) AS BIGINT) AS cb
        FROM tagged GROUP BY event_type, value
    ), cum AS (
        SELECT event_type,
               CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
               CAST(SUM(cb) OVER w AS BIGINT) AS cum_b,
               CAST(SUM(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
               CAST(SUM(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
        FROM by_value
        WINDOW w AS (PARTITION BY event_type ORDER BY value
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, na AS n_first_half, nb AS n_second_half,
           ROUND(MAX(ABS(CAST(cum_a AS DOUBLE) / na
                         - CAST(cum_b AS DOUBLE) / nb)), 6) AS ks_stat
    FROM cum
    GROUP BY event_type, na, nb
    """,
)
def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per event type:
    first half-month vs second half-month of `value` — the
    distribution-shift gate training pipelines run before trusting a new
    data slice (KS is the standard nonparametric drift test; the t-test
    key `agg_ab_test_ttest` sees only mean shifts, KS sees shape).

    Exact formulation, no sampling: per distinct value the two sample
    counts aggregate (one shuffle), the empirical CDFs are cumulative
    integer ratios (a partitioned window over the per-type distinct
    values), and D = max|cdf_a - cdf_b| is an exact selection over
    deterministic doubles — identical on both engines.
    """
    e = load(spark, sf_dir, "events")
    tagged = e.select(
        "event_type",
        "value",
        F.when(F.col("ts") < F.lit("2024-01-15").cast("timestamp"), 1)
        .otherwise(0)
        .alias("in_a"),
    )
    by_value = tagged.groupBy("event_type", "value").agg(
        F.sum("in_a").alias("ca"), F.sum(1 - F.col("in_a")).alias("cb")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    cum = by_value.select(
        "event_type",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(wt).alias("na"),
        F.sum("cb").over(wt).alias("nb"),
    )
    diff = F.abs(
        F.col("cum_a").cast("double") / F.col("na")
        - F.col("cum_b").cast("double") / F.col("nb")
    )
    return cum.groupBy("event_type", "na", "nb").agg(
        F.round(F.max(diff), 6).alias("ks_stat")
    ).select(
        "event_type",
        F.col("na").alias("n_first_half"),
        F.col("nb").alias("n_second_half"),
        "ks_stat",
    )


@register(
    "agg_kmv_distinct_estimate",
    oracle="""
    WITH hashed AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5('kmv_' || CAST(o_custkey AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM orders
    ), bottomk AS (
        SELECT h FROM hashed ORDER BY h LIMIT 64
    ), agg AS (
        SELECT COUNT(*) AS k, MAX(h) AS hk FROM bottomk
    ), truth AS (
        SELECT COUNT(*) AS n_true FROM hashed
    )
    SELECT CAST(truth.n_true AS BIGINT) AS n_true_distinct,
           CAST(agg.hk AS BIGINT) AS kth_hash,
           ROUND((agg.k - 1) * (CAST(1152921504606846976 AS DOUBLE) / agg.hk), 6)
               AS est_distinct,
           ROUND(ABS((agg.k - 1) * (CAST(1152921504606846976 AS DOUBLE) / agg.hk)
                     - truth.n_true) / truth.n_true, 6) AS rel_err
    FROM agg CROSS JOIN truth
    """,
)
def agg_kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch (k=64): keep the 64
    smallest md5 hashes of the key; estimate |D| ≈ (k-1)/h_(k) with
    hashes scaled to [0,1) by 2^60 — the order-statistics cousin of HLL
    (`agg_hll_sketch_mergeable`), but EXACTLY oracle-checkable because
    the bottom-k set is deterministic (no register rounding). Mergeable
    at 100 TB: per-partition bottom-64 lists merge by take-smallest-64
    (here Spark's TakeOrdered does it — sort+limit never materializes a
    global sort).

    Validated in-row against the exact distinct count with relative
    error; md5 keeps both engines bit-identical.
    """
    o = load(spark, sf_dir, "orders").select("o_custkey")
    h = md5_long(F.concat(F.lit("kmv_"), F.col("o_custkey").cast("string"))).alias("h")
    hashed = o.select(h).distinct()
    bottomk = hashed.orderBy("h").limit(64)
    agg = bottomk.agg(F.count("*").alias("k"), F.max("h").alias("hk"))
    truth = hashed.agg(F.count("*").alias("n_true"))
    est = (F.col("k") - 1) * (F.lit(float(1 << 60)) / F.col("hk"))
    return agg.crossJoin(truth).select(
        F.col("n_true").alias("n_true_distinct"),
        F.col("hk").alias("kth_hash"),
        F.round(est, 6).alias("est_distinct"),
        F.round(F.abs(est - F.col("n_true")) / F.col("n_true"), 6).alias("rel_err"),
    )


@register(
    "join_fuzzy_trigram_names",
    oracle="""
    WITH names AS (
        SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name
    ), tri AS (
        SELECT p_name, n_parts,
               list_distinct(list_transform(
                   generate_series(1, length(p_name) - 2),
                   i -> substr(p_name, i, 3))) AS grams
        FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b,
           ROUND(CAST(len(list_filter(a.grams, g -> list_contains(b.grams, g)))
                      AS DOUBLE)
                 / (len(a.grams) + len(b.grams)
                    - len(list_filter(a.grams, g -> list_contains(b.grams, g)))),
                 6) AS trigram_jaccard
    FROM tri a JOIN tri b ON a.p_name < b.p_name
    WHERE CAST(len(list_filter(a.grams, g -> list_contains(b.grams, g)))
               AS DOUBLE)
          / (len(a.grams) + len(b.grams)
             - len(list_filter(a.grams, g -> list_contains(b.grams, g)))) >= 0.4
    """,
)
def join_fuzzy_trigram_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: character-trigram Jaccard over part
    names, pairing names with similarity ≥ 0.4 — the name-matching
    primitive of record linkage / golden-record pipelines.

    Scale shape: the fact table first collapses to the DISTINCT-name
    table with counts (64 names here, bounded by the name vocabulary at
    any SF — the same collapse a 100-TB run does), and the quadratic
    similarity runs only on that bounded table via a broadcast self-join;
    results map back to fact rows by the carried counts. For an unbounded
    name vocabulary, block on first-trigram / LSH exactly like the
    llm_dedup_minhash_banded path — this key is the exact-verify stage.
    All set arithmetic is integer; one ROUND on the final ratio.
    """
    p = load(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count("*").alias("n_parts"))
    tri = names.select(
        "p_name",
        "n_parts",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, length(p_name) - 2), i -> substring(p_name, i, 3))"
            )
        ).alias("grams"),
    )
    a = tri.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        F.col("grams").alias("grams_a"),
    )
    b = tri.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        F.col("grams").alias("grams_b"),
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    jac = inter.cast("double") / union
    return (
        a.join(F.broadcast(b), F.col("name_a") < F.col("name_b"))
        .where(jac >= 0.4)
        .select(
            "name_a",
            "name_b",
            "n_parts_a",
            "n_parts_b",
            F.round(jac, 6).alias("trigram_jaccard"),
        )
    )


@register(
    "events_late_arrival_accounting",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, ts,
               MAX(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS max_seen_s
        FROM events
    ), late AS (
        SELECT CASE
                 WHEN max_seen_s IS NULL THEN 'first_event'
                 WHEN max_seen_s - CAST(floor(epoch(ts)) AS BIGINT) <= 0
                     THEN 'in_order'
                 WHEN max_seen_s - CAST(floor(epoch(ts)) AS BIGINT) <= 600
                     THEN 'late_le_10m'
                 WHEN max_seen_s - CAST(floor(epoch(ts)) AS BIGINT) <= 3600
                     THEN 'late_le_1h'
                 ELSE 'late_gt_1h'
               END AS lateness_bucket
        FROM seq
    )
    SELECT lateness_bucket, COUNT(*) AS n_events
    FROM late GROUP BY lateness_bucket
    """,
)
def events_late_arrival_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arrival accounting — the audit that SIZES a watermark: per
    user (arrival order = event_id), how far behind the max event-time
    seen so far does each event arrive? The bucket histogram
    (in-order / ≤10m / ≤1h / >1h) tells you what
    ``withWatermark("ts", X)`` drops at each X — run this BEFORE
    choosing X for the streaming keys (§2.9).

    One partitioned running-max window over integral epoch seconds —
    exact arithmetic, one shuffle on user_id, and the histogram is a
    bounded-key aggregation.
    """
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ts_s = F.unix_timestamp("ts")
    max_seen = F.max(ts_s).over(w)
    lateness = max_seen - ts_s
    bucket = (
        F.when(max_seen.isNull(), "first_event")
        .when(lateness <= 0, "in_order")
        .when(lateness <= 600, "late_le_10m")
        .when(lateness <= 3600, "late_le_1h")
        .otherwise("late_gt_1h")
    )
    return (
        e.select(bucket.alias("lateness_bucket"))
        .groupBy("lateness_bucket")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "sink_bucketed_join_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS line_cnt,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
               AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def sink_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join, end to end (SURVEY §7.6's flagship
    100-TB pattern as a graded key): orders and lineitem are written as
    managed tables bucketed 8 ways on the SAME join key (sorted within
    buckets), then joined with a merge hint — Spark aligns the bucket
    specs and the join runs with NO exchange on either side (asserted in
    tests/test_extended6.py): the shuffle was paid ONCE at write time,
    and every subsequent join on the key is a local per-bucket merge.
    At 100 TB this is the difference between re-shuffling two fact
    tables per query and never shuffling them again.

    Values are oracle-checked against the plain (unbucketed) join —
    bucketing must be invisible to results. Revenue sums in DECIMAL
    (exact at any N), the house discipline for float aggregates.
    """
    import os

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    from classification_problem_with_pyspark_spark.sources.catalog import write_bucketed

    sf_name = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    t_o, t_l = f"bkt_orders_{sf_name}", f"bkt_lineitem_{sf_name}"
    write_bucketed(o, t_o, ("o_orderkey",), 8, ("o_orderkey",))
    write_bucketed(li, t_l, ("l_orderkey",), 8, ("l_orderkey",))
    ob, lb = spark.table(t_o), spark.table(t_l)
    return (
        ob.hint("merge")
        .join(lb, ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("line_cnt"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("double"),
                4,
            ).alias("revenue"),
        )
    )


@register(
    "llm_shard_checksum_manifest",
    oracle="""
    WITH hashed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('shuf_' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 8 AS shard,
               md5(text) AS content_hash,
               length(text) AS n_chars
        FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           md5(string_agg(content_hash, '' ORDER BY content_hash))
               AS shard_checksum
    FROM hashed
    GROUP BY shard
    """,
)
def llm_shard_checksum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest with content checksums — the reproducibility record
    a training run stores next to its data: per shard (same md5 shard
    assignment as `llm_shuffle_shards`), doc count, char volume, and an
    ORDER-INSENSITIVE shard checksum (md5 over the sorted per-doc content
    hashes) that any later run can recompute to prove the shard is
    byte-identical. Sorting happens inside each shard's aggregation
    (collect_list → array_sort — bounded by shard size, 8-way parallel),
    never globally.
    """
    d = load(spark, sf_dir, "documents")
    shard = md5_long(F.concat(F.lit("shuf_"), F.col("doc_id").cast("string"))) % 8
    hashed = d.select(
        shard.alias("shard"),
        F.md5("text").alias("content_hash"),
        F.length("text").alias("n_chars"),
    )
    return hashed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list("content_hash")), "").cast(
                "binary"
            )
        ).alias("shard_checksum"),
    )


@register(
    "events_trending_topk",
    oracle="""
    WITH weekly AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN ts <  TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_prev,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_curr
        FROM events GROUP BY event_type
    ), scored AS (
        SELECT event_type, n_prev, n_curr,
               ROUND(CAST(n_curr AS DOUBLE) / (n_prev + 1), 6) AS growth_ratio
        FROM weekly
    )
    SELECT event_type, n_prev, n_curr, growth_ratio,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY growth_ratio DESC, event_type)
                    AS rk
          FROM scored) t
    WHERE rk <= 3
    """,
)
def events_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detection: top-3 event types by half-over-half growth
    ratio (Laplace-smoothed, +1 in the denominator so new types don't
    divide by zero) — the feed-ranking / anomaly-promotion primitive.

    One conditional-aggregation pass over the scan (both halves counted
    in the same groupBy — no self-join of two period scans), then the
    ranking window runs over the bounded event-type table. The growth
    ratio is a single deterministic double division of exact counts.
    """
    e = load(spark, sf_dir, "events")
    weekly = e.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("ts") < F.lit("2024-01-15").cast("timestamp"), 1).otherwise(0)
        ).cast("long").alias("n_prev"),
        F.sum(
            F.when(F.col("ts") >= F.lit("2024-01-15").cast("timestamp"), 1).otherwise(0)
        ).cast("long").alias("n_curr"),
    )
    scored = weekly.withColumn(
        "growth_ratio",
        F.round(F.col("n_curr").cast("double") / (F.col("n_prev") + 1), 6),
    )
    return (
        grid_rank(
            scored,
            [F.desc("growth_ratio"), F.asc("event_type")],
            "rank",
            cast="long",
        )
        .where(F.col("rank") <= 3)
        .select("event_type", "n_prev", "n_curr", "growth_ratio", "rank")
    )


@register(
    "emb_pca_power_iteration",
    oracle="""
    WITH exp AS (
        SELECT vec_id, t.i - 1 AS i, t.xi
        FROM embeddings,
          LATERAL (SELECT generate_subscripts(embedding, 1) AS i,
                          unnest(list_transform(embedding,
                                                x -> CAST(x AS DOUBLE))) AS xi) t
    ), gram AS (
        SELECT a.i AS i, b.i AS j,
               CAST(round(CAST(SUM(CAST(round(a.xi * b.xi * 1000000000000)
                                        AS BIGINT)) AS DOUBLE)
                          / 1000000.0) AS BIGINT) AS g
        FROM exp a JOIN exp b USING (vec_id)
        GROUP BY a.i, b.i
    ), v0 AS (
        SELECT unnest(generate_series(0, 63)) AS j,
               CAST(1000000 AS BIGINT) AS v
    ), u1 AS (
        SELECT gram.i, CAST(SUM(gram.g * v0.v) AS BIGINT) AS u
        FROM gram JOIN v0 ON gram.j = v0.j GROUP BY gram.i
    ), v1 AS (
        SELECT i AS j,
               CAST(round(CAST(u AS DOUBLE) * 1000000.0
                          / (SELECT MAX(ABS(u)) FROM u1)) AS BIGINT) AS v
        FROM u1
    ), u2 AS (
        SELECT gram.i, CAST(SUM(gram.g * v1.v) AS BIGINT) AS u
        FROM gram JOIN v1 ON gram.j = v1.j GROUP BY gram.i
    ), v2 AS (
        SELECT i AS j,
               CAST(round(CAST(u AS DOUBLE) * 1000000.0
                          / (SELECT MAX(ABS(u)) FROM u2)) AS BIGINT) AS v
        FROM u2
    ), u3 AS (
        SELECT gram.i, CAST(SUM(gram.g * v2.v) AS BIGINT) AS u
        FROM gram JOIN v2 ON gram.j = v2.j GROUP BY gram.i
    ), v3 AS (
        SELECT i AS j,
               CAST(round(CAST(u AS DOUBLE) * 1000000.0
                          / (SELECT MAX(ABS(u)) FROM u3)) AS BIGINT) AS v
        FROM u3
    ), rayleigh AS (
        SELECT ROUND(CAST(SUM(CAST(round(CAST(u3.u AS DOUBLE) / 1000000.0)
                                   AS BIGINT) * v2.v) AS DOUBLE)
                     / (SELECT SUM(v * v) FROM v2), 6) AS rayleigh_scaled
        FROM u3 JOIN v2 ON u3.i = v2.j
    )
    SELECT v3.j AS dim, CAST(v3.v AS BIGINT) AS component_micro,
           rayleigh.rayleigh_scaled
    FROM v3 CROSS JOIN rayleigh
    """,
)
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding matrix by power
    iteration — matrix-free distributed PCA: ONE fact-sized pass builds
    the 64×64 Gram matrix G = ΣxxT as exact µ²-unit integers (per-row
    outer products flatten to (i,j,m) triples in codegen, partial-agg
    absorbs the 4096× fan-out map-side), then three v ← Gv/‖Gv‖∞
    iterations run as joins on the BOUNDED gram table — the same
    bounded-iteration posture as graph_pagerank_nation_flow. At 100 TB
    only the gram build touches the data; iteration cost is O(d²)
    regardless of N.

    Hash discipline: matvecs are exact int64 sums (order-insensitive by
    construction); every normalization is one deterministic double op
    rounded back to µ-unit ints, so all three iterations are
    bit-identical on both engines. Output: the µ-scaled component per
    dim + the Rayleigh-quotient eigenvalue estimate (scaled units).
    """
    e0 = spread(load(spark, sf_dir, "embeddings"), "vec_id")
    triples = e0.select(
        F.explode(
            F.expr(
                "flatten(transform(embedding, (xi, i) -> "
                "transform(embedding, (xj, j) -> struct(i AS i, j AS j, "
                "CAST(round(CAST(xi AS DOUBLE) * CAST(xj AS DOUBLE) "
                "* 1000000000000) AS BIGINT) AS m))))"
            )
        ).alias("t")
    ).select("t.i", "t.j", "t.m")
    gram = (
        triples.groupBy("i", "j")
        .agg(
            F.round(F.sum("m").cast("double") / 1000000.0).cast("long").alias("g")
        )
        .localCheckpoint(eager=True)  # bounded 4096-row table; built once
    )
    v = spark.range(64).select(
        F.col("id").alias("j"), F.lit(1000000).cast("long").alias("v")
    )
    u = None
    v_prev = None
    for _ in range(3):
        # r12 (guide §5): u_k feeds BOTH its own max-norm aggregate and
        # v_k — unshared, iteration k+1's lineage re-ran every earlier
        # iteration's join chain per consumer (the before-plan held 3
        # recomputed chains; 11 s in the closing sweep). The lazy
        # checkpoint costs no extra job: the mx aggregate — the first
        # job over u_k — materializes the 64-row relation in passing.
        # All arithmetic is unchanged (sums/rounds stay in the engine),
        # so the result is bit-identical.
        u = gram.join(v, "j").groupBy("i").agg(
            F.sum(F.col("g") * F.col("v")).alias("u")
        ).localCheckpoint(eager=False)
        mx = u.agg(F.max(F.abs(F.col("u"))).alias("mx"))
        v_prev = v
        v = u.crossJoin(F.broadcast(mx)).select(
            F.col("i").alias("j"),
            F.round(F.col("u").cast("double") * 1000000.0 / F.col("mx"))
            .cast("long")
            .alias("v"),
        )
    num = (
        u.join(v_prev, u.i == v_prev.j)
        .agg(
            F.sum(
                F.round(F.col("u").cast("double") / 1000000.0).cast("long")
                * F.col("v")
            ).alias("num")
        )
    )
    den = v_prev.agg(F.sum(F.col("v") * F.col("v")).alias("den"))
    rayleigh = num.crossJoin(den).select(
        F.round(F.col("num").cast("double") / F.col("den"), 6).alias(
            "rayleigh_scaled"
        )
    )
    return v.crossJoin(F.broadcast(rayleigh)).select(
        F.col("j").alias("dim"),
        F.col("v").alias("component_micro"),
        "rayleigh_scaled",
    )


@register(
    "ml_knn_accuracy_exact",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS qid, a.label AS true_label, b.label AS nbr_label,
               ROUND(list_cosine_similarity(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS sim,
               b.vec_id AS nid
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), knn AS (
        SELECT qid, true_label, nbr_label
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                           ORDER BY sim DESC, nid) AS rk
              FROM pairs) r
        WHERE rk <= 5
    ), votes AS (
        SELECT qid, true_label, nbr_label AS pred_label, COUNT(*) AS n_votes
        FROM knn GROUP BY qid, true_label, nbr_label
    ), decided AS (
        SELECT qid, true_label, pred_label
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                           ORDER BY n_votes DESC, pred_label) AS vr
              FROM votes) v
        WHERE vr = 1
    )
    SELECT true_label, pred_label, COUNT(*) AS n_vectors
    FROM decided GROUP BY true_label, pred_label
    """,
)
def ml_knn_accuracy_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-NN majority-vote classifier confusion matrix over the
    embedding corpus — the hash-checkable ML evaluation (MLlib fits are
    rows-only by nature; this eval is pure deterministic arithmetic, so
    the driver pins it exactly). Votes tie-break to the smaller label;
    neighbor ranking ties break on vec_id — total orders everywhere.

    Round-5 rewrite: the neighbor lists come from the REGISTERED
    ``llm_similarity_topk`` kernel (Arrow/numpy blocked matmul — same
    round-6 sims, same (sim DESC, nid) rank, k=5, self excluded by id),
    so the eval and the ANN ground-truth baseline cannot drift apart
    and the 4× slower JVM-HOF cross join this key used to duplicate is
    gone (that form remains measured under llm_similarity_topk_hof).
    Label joins + vote/confusion are bounded aggregations; AQE picks
    the label-join strategy (corpus-sized at 100 TB — no forced
    broadcast).
    """
    from classification_problem_with_pyspark_spark.operators.llm import (
        llm_similarity_topk,
    )

    lab = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    knn = llm_similarity_topk(spark, sf_dir)
    votes = (
        knn.join(
            lab.select(F.col("vec_id").alias("qid"), F.col("label").alias("true_label")),
            "qid",
        )
        .join(
            lab.select(F.col("vec_id").alias("nid"), F.col("label").alias("nbr_label")),
            "nid",
        )
        .groupBy("qid", "true_label", F.col("nbr_label").alias("pred_label"))
        .agg(F.count("*").alias("n_votes"))
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("n_votes"), F.asc("pred_label"))
    decided = votes.withColumn("vr", F.row_number().over(wv)).where(F.col("vr") == 1)
    return decided.groupBy("true_label", "pred_label").agg(
        F.count("*").alias("n_vectors")
    )


@register(
    "window_rolling_median",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           n_events,
           ROUND(quantile_cont(n_events, 0.5) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS median_7d
    FROM daily
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling MEDIAN of daily event counts per type — the robust
    twin of the rolling mean (one spike day shifts a mean for a week but
    leaves the median untouched; this is the baseline curve anomaly
    monitors subtract). Exact percentile over a ROWS frame on integer
    counts: interpolation arithmetic on exact ints is deterministic on
    both engines.

    The window runs over the (type, day) AGGREGATE (bounded: types ×
    days), never over raw events — the fact-sized work is the daily
    count's single shuffle.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.round(F.percentile("n_events", F.lit(0.5)).over(w), 6).alias("median_7d"),
    )


@register(
    "join_lateral_topn",
    oracle="""
    WITH big AS (
        SELECT o_orderkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    )
    SELECT b.o_orderkey, b.o_totalprice,
           t.l_linenumber, t.l_extendedprice
    FROM big b,
      LATERAL (SELECT l_linenumber, l_extendedprice
               FROM lineitem
               WHERE l_orderkey = b.o_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
    """,
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL:2016 surface, Spark 3.4+): for
    each of the 10 largest orders, its top-2 line items by price — the
    per-row-subquery idiom users port from warehouses. Registered through
    the engine's SQL entry path (EP2) to pin Spark's LATERAL support;
    Catalyst decorrelates it into the same rank-filter join a DataFrame
    window would produce, so there is no per-row execution at scale.

    Total orders everywhere ((price, orderkey) and (price, linenumber))
    keep both engines' LIMITs identical.
    """
    import uuid

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    tag = uuid.uuid4().hex[:8]
    o.createOrReplaceTempView(f"lt_orders_{tag}")
    li.createOrReplaceTempView(f"lt_lineitem_{tag}")
    return spark.sql(f"""
        WITH big AS (
            SELECT o_orderkey, o_totalprice
            FROM lt_orders_{tag}
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        )
        SELECT b.o_orderkey, b.o_totalprice,
               t.l_linenumber, t.l_extendedprice
        FROM big b,
          LATERAL (SELECT l_linenumber, l_extendedprice
                   FROM lt_lineitem_{tag}
                   WHERE l_orderkey = b.o_orderkey
                   ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
    """)


@register(
    "layout_zonemap_prune_audit",
    oracle="""
    WITH zones AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS zone,
               COUNT(*) AS n_rows,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price
        FROM orders GROUP BY 1
    )
    SELECT zone, n_rows,
           ROUND(min_price, 2) AS min_price,
           ROUND(max_price, 2) AS max_price,
           (max_price < 400000.0) AS prunable_for_gt_400k
    FROM zones
    """,
)
def layout_zonemap_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) pruning audit: per month partition of
    orders, the value range of o_totalprice and whether a `> 400k`
    predicate could SKIP the whole zone — the file-skipping effectiveness
    report behind partition layout decisions (parquet row-group stats,
    Delta/Iceberg data skipping). Complements `layout_zorder_cluster`
    (which REORDERS for better zone maps); this MEASURES what the current
    layout buys.

    One partial-agg pass; min/max are exact selections, safe to hash.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("zone"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )
        .select(
            "zone",
            "n_rows",
            F.round("mn", 2).alias("min_price"),
            F.round("mx", 2).alias("max_price"),
            (F.col("mx") < 400000.0).alias("prunable_for_gt_400k"),
        )
    )


@register(
    "llm_cross_dedup_incremental",
    oracle="""
    WITH tagged AS (
        SELECT doc_id, md5(text) AS h,
               CAST(('0x' || substr(md5('incr_' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10 < 8 AS in_corpus
        FROM documents
    ), corpus AS (
        SELECT DISTINCT h FROM tagged WHERE in_corpus
    )
    SELECT CAST(SUM(CASE WHEN NOT t.in_corpus THEN 1 ELSE 0 END) AS BIGINT)
               AS n_incoming,
           CAST(SUM(CASE WHEN NOT t.in_corpus AND c.h IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_of_corpus,
           CAST(SUM(CASE WHEN NOT t.in_corpus AND c.h IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_new_unique,
           ROUND(CAST(SUM(CASE WHEN NOT t.in_corpus AND c.h IS NULL
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN NOT t.in_corpus THEN 1 ELSE 0 END), 6)
               AS novelty_rate
    FROM tagged t LEFT JOIN corpus c ON t.h = c.h
    """,
)
def llm_cross_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: an incoming batch (hash-split 20% of
    documents) checked against the existing corpus (the other 80%) by
    content hash — the every-ingest operation of a living corpus: how
    many incoming docs are already present, how many are new.

    The membership check is a digest-keyed LEFT JOIN (never shuffles
    text, same discipline as llm_dedup_exact_hash); at 100 TB the corpus
    side is the hash index, not the documents. One pass, exact integer
    counts.
    """
    d = load(spark, sf_dir, "documents")
    in_corpus = md5_long(F.concat(F.lit("incr_"), F.col("doc_id").cast("string"))) % 10 < 8
    tagged = d.select(F.md5("text").alias("h"), in_corpus.alias("in_corpus"))
    corpus = tagged.where("in_corpus").select("h").distinct()
    c = corpus.withColumn("known", F.lit(True))
    joined = tagged.join(c, "h", "left")
    incoming = (~F.col("in_corpus")).cast("long")
    dup = ((~F.col("in_corpus")) & F.col("known").isNotNull()).cast("long")
    new = ((~F.col("in_corpus")) & F.col("known").isNull()).cast("long")
    return joined.agg(
        F.sum(incoming).alias("n_incoming"),
        F.sum(dup).alias("n_dup_of_corpus"),
        F.sum(new).alias("n_new_unique"),
        F.round(F.sum(new).cast("double") / F.sum(incoming), 6).alias("novelty_rate"),
    )


@register(
    "llm_quality_bucket_token_budget",
    oracle="""
    WITH scored AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
               length(text) AS n_chars
        FROM documents
    ), deciled AS (
        SELECT doc_id, n_tokens,
               NTILE(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
        FROM scored
    ), per_decile AS (
        SELECT decile,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS decile_tokens
        FROM deciled GROUP BY decile
    ), cum AS (
        SELECT decile, n_docs, decile_tokens,
               CAST(SUM(decile_tokens) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tokens
        FROM per_decile
    )
    SELECT decile, n_docs, decile_tokens, cum_tokens,
           (cum_tokens <= 30000) AS fully_within_budget
    FROM cum
    """,
)
def llm_quality_bucket_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a token budget: rank documents into quality
    deciles (length as the stand-in score, deterministic (score, doc_id)
    order), then greedily admit whole deciles while the cumulative token
    count fits the 30k budget — the curation policy behind
    quality-first corpus downselection ("spend the budget on the best
    data first").

    The per-doc work is one scan pass; the decile assignment is the
    CLOSED-FORM ntile (r7/r8 de-globalization recipe, same as
    ml_lift_gain_deciles): the bucket-stitch global rank gives each
    document's rank under (n_chars DESC, doc_id), and SQL ntile(k) is
    a pure function of (rank, n) — the first n%k buckets hold
    n DIV k + 1 rows, the rest n DIV k. No document row ever passes
    through a single-task sort; the only single-partition window is
    the ≤1k-row range-normalized length-bucket grid (r11: distinct
    lengths track the corpus, so the old |distinct lengths| histogram
    grew with SF). All outputs are exact integers + a boolean.
    """
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    # r11 (trend gate): distinct document lengths track the corpus
    # (313→523 per SF decade — lengths are near-unique, not a fixed
    # domain), so the rank is the bucket-stitch global rank with
    # RANGE-NORMALIZED buckets (fixed 1024 buckets over the broadcast
    # min/max length — ≤1k-row grid at any corpus size) instead of the
    # hand-rolled distinct-length histogram.
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_rank,
    )

    tot_n = scored.agg(F.count("*").cast("long").alias("n"))
    deciled = (
        bucketed_global_rank(
            scored,
            "n_chars",
            [F.asc("doc_id")],
            descending=True,
            value_range_k=1024,
            out="rn",
        )
        .crossJoin(F.broadcast(tot_n))
        .withColumn(
            "decile",
            F.expr(
                "CAST(CASE WHEN rn <= (n % 10) * (n DIV 10 + 1) "
                "THEN (rn - 1) DIV (n DIV 10 + 1) + 1 "
                "ELSE n % 10 "
                "+ (rn - (n % 10) * (n DIV 10 + 1) - 1) "
                "DIV greatest(1, n DIV 10) + 1 END AS INT)"
            ),
        )
    )
    per_decile = deciled.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("decile_tokens"),
    )
    return (
        grid_cumsum(
            per_decile,
            ["decile"],
            [("cum_raw", "decile_tokens")],
            keep=["decile", "n_docs", "decile_tokens"],
        )
        .select(
            "decile",
            "n_docs",
            "decile_tokens",
            F.col("cum_raw").cast("long").alias("cum_tokens"),
        )
        .withColumn("fully_within_budget", F.col("cum_tokens") <= 30000)
    )


@register(
    "graph_bfs_3hop",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), h0 AS (
        SELECT CAST(0 AS BIGINT) AS node
    ), h1 AS (
        SELECT DISTINCT e.dst AS node FROM edges e JOIN h0 ON e.src = h0.node
        WHERE e.dst NOT IN (SELECT node FROM h0)
    ), h2 AS (
        SELECT DISTINCT e.dst AS node FROM edges e JOIN h1 ON e.src = h1.node
        WHERE e.dst NOT IN (SELECT node FROM h0)
          AND e.dst NOT IN (SELECT node FROM h1)
    ), h3 AS (
        SELECT DISTINCT e.dst AS node FROM edges e JOIN h2 ON e.src = h2.node
        WHERE e.dst NOT IN (SELECT node FROM h0)
          AND e.dst NOT IN (SELECT node FROM h1)
          AND e.dst NOT IN (SELECT node FROM h2)
    )
    SELECT CAST(hop AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM (
        SELECT node, 0 AS hop FROM h0
        UNION ALL SELECT node, 1 FROM h1
        UNION ALL SELECT node, 2 FROM h2
        UNION ALL SELECT node, 3 FROM h3
    ) lv
    GROUP BY hop
    """,
)
def graph_bfs_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier BFS, 3 hops from part 0 over the co-purchase graph
    (parts sharing an order): nodes first reached at each hop level —
    the reachability primitive (fraud rings, recommendation neighborhoods,
    impact radius).

    The iterative-frontier form IS the scale algorithm: each hop is one
    distinct-join of the (small) frontier against the graph, with
    visited-set anti-joins keeping levels disjoint — unlike a recursive
    path enumeration, which multiplies combinatorially on dense graphs.

    Scale (round-5 rewrite): the edge relation is never materialized —
    the previous form localCheckpoint-ed the full deduped self-join
    (O(E) pinned in block-manager memory; an OOM risk the harmonic-
    centrality twin actually hit at sf0.1 on a default heap). Each hop
    now expands the frontier straight off the 2-column fact: join the
    frontier to collect incident orders, dedup, join those orders back
    for the co-parts — per hop, two joins plus ball-sized distincts,
    zero fact-sized materialization. Join strategy is left to AQE: the
    hop-1 frontier is broadcast-sized, but a dense co-purchase ball
    approaches the whole part vocabulary by hop 2, where a shuffle
    join is the right physical plan. dst = an already-reached node
    (including the self-pair the edge relation excludes) is removed by
    the visited anti-join, frontier ⊆ visited.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    h0 = spark.range(1).select(F.lit(0).cast("long").alias("node"))

    # r13 optimization (guide §2.4, the harmonic-centrality twin): the
    # per-hop VISITED anti-joins and the growing visited distinct-union
    # checkpoints are gone. Expanding hop k+1 from the deduped reach-≤k
    # candidate set only finds paths of length ≤ k+1, so tagging each
    # candidate set with its hop and taking MIN(hop) per node at the end
    # reproduces the oracle's NOT-IN first-reach levels exactly: every
    # distance-d node appears in candidate set d (it is adjacent to a
    # distance-(d-1) node, which set d-1 contains) and min() discards
    # re-reached closer nodes — including the source itself, which
    # re-enters via back-edges and is pinned to hop 0 by its h0 tag.
    # 6 eager checkpoints (3 frontiers + 3 visited unions) become 2, and
    # hop 3's standalone distinct fuses into the min-hop aggregate.
    def expand(nodes):
        fo = (
            nodes
            .join(li, nodes.node == li.l_partkey)
            .select("l_orderkey")
            .distinct()
        )
        return fo.join(li, "l_orderkey").select(F.col("l_partkey").alias("node"))

    r1 = expand(h0).distinct().localCheckpoint(eager=True)  # reach ≤ 1
    r2 = expand(r1).distinct().localCheckpoint(eager=True)  # reach ≤ 2
    r3 = expand(r2)  # raw ≤3-reach candidates; the min-hop agg dedups

    tagged = (
        h0.select(F.lit(0).cast("long").alias("hop"), "node")
        .union(r1.select(F.lit(1).cast("long").alias("hop"), "node"))
        .union(r2.select(F.lit(2).cast("long").alias("hop"), "node"))
        .union(r3.select(F.lit(3).cast("long").alias("hop"), "node"))
    )
    first = tagged.groupBy("node").agg(F.min("hop").alias("hop"))
    return first.groupBy("hop").agg(F.count("*").cast("long").alias("n_nodes"))


@register(
    "scalar_map_hof_suite",
    oracle="""
    SELECT event_id,
           CAST((CASE WHEN value > 50 THEN 1 ELSE 0 END)
                + (CASE WHEN value * 2 > 50 THEN 1 ELSE 0 END)
                AS INTEGER) AS n_after_filter,
           ROUND(value * 10, 4) AS v_times10,
           'V,V2' AS upper_keys,
           ROUND(value + value * 10, 4) AS zipped_v
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def scalar_map_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions (§2.8 gap): map_from_entries →
    map_filter / transform_values / transform_keys / map_zip_with, each
    flattened to a hashable scalar. DuckDB has no map lambdas, so the
    oracle is derivation-equivalent (the same scalars computed directly)
    — the established pattern from scalar_map_suite.

    All per-row JVM codegen; per-row double products are single IEEE ops,
    identical on both engines.
    """
    e = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    m1 = F.map_from_entries(
        F.array(
            F.struct(F.lit("v").alias("key"), F.col("value").alias("value")),
            F.struct(F.lit("v2").alias("key"), (F.col("value") * 2).alias("value")),
        )
    )
    filtered = F.map_filter(m1, lambda k, v: v > 50)
    m2 = F.transform_values(m1, lambda k, v: v * 10)
    m3 = F.transform_keys(m1, lambda k, v: F.upper(k))
    zipped = F.map_zip_with(
        m1, m2, lambda k, a, b: F.coalesce(a, F.lit(0.0)) + F.coalesce(b, F.lit(0.0))
    )
    return e.select(
        "event_id",
        F.size(filtered).alias("n_after_filter"),
        F.round(F.element_at(m2, "v"), 4).alias("v_times10"),
        F.array_join(F.array_sort(F.map_keys(m3)), ",").alias("upper_keys"),
        F.round(F.element_at(zipped, "v"), 4).alias("zipped_v"),
    )


@register(
    "llm_template_boilerplate_groups",
    oracle="""
    WITH normalized AS (
        SELECT doc_id,
               md5(regexp_replace(regexp_replace(lower(text), '[0-9]+', '#', 'g'),
                                  ' +', ' ', 'g')) AS shape_hash
        FROM documents
    ), groups AS (
        SELECT shape_hash,
               COUNT(*) AS n_docs,
               MIN(doc_id) AS exemplar_doc_id
        FROM normalized GROUP BY shape_hash
    )
    SELECT shape_hash, n_docs, exemplar_doc_id
    FROM groups WHERE n_docs >= 2
    """,
)
def llm_template_boilerplate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection — the dedup class EXACT hashing
    misses: normalize the text's SHAPE (lowercase, digit runs → '#',
    whitespace collapsed) and group by the shape hash; groups of ≥2 are
    generated-from-a-template families (error pages, listings, form
    letters) that corpus cleaning caps or drops.

    Same scale posture as exact dedup: only the 16-byte shape digest
    shuffles, never text; normalization is two JVM regexes in codegen.
    """
    d = load(spark, sf_dir, "documents")
    shape = F.md5(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "#"), " +", " "
        )
    )
    return (
        d.select("doc_id", shape.alias("shape_hash"))
        .groupBy("shape_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("exemplar_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


@register(
    "llm_dedup_prefix_containment",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, text, length(text) AS n,
               substr(text, 1, 64) AS block
        FROM documents WHERE length(text) >= 64
    )
    SELECT a.doc_id AS shorter_doc, b.doc_id AS longer_doc,
           a.n AS shorter_len, b.n AS longer_len
    FROM keyed a JOIN keyed b
      ON a.block = b.block AND a.doc_id <> b.doc_id
    WHERE a.n <= b.n
      AND NOT (a.n = b.n AND a.doc_id > b.doc_id)
      AND substr(b.text, 1, a.n) = a.text
    """,
)
def llm_dedup_prefix_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation dedup: documents that are an exact PREFIX of a longer
    document (the duplicate class created by crawl truncation and
    re-scrapes, invisible to whole-text hashing). Candidate pairs are
    blocked on the first-64-char prefix (equal prefixes → same block, an
    equi-join on a digest-sized key), then verified by one substring
    compare — never an all-pairs scan. Equal-length ties pair once
    (smaller doc_id as 'shorter').

    At 100 TB the block key join is the same shape as exact dedup; block
    skew (a hugely common prefix) is the documented salting case.
    """
    d = load(spark, sf_dir, "documents").where(F.length("text") >= 64)
    keyed = d.select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        F.substring("text", 1, 64).alias("block"),
    )
    a = keyed.select(
        F.col("doc_id").alias("shorter_doc"),
        F.col("text").alias("text_a"),
        F.col("n").alias("shorter_len"),
        F.col("block").alias("block_a"),
    )
    b = keyed.select(
        F.col("doc_id").alias("longer_doc"),
        F.col("text").alias("text_b"),
        F.col("n").alias("longer_len"),
        F.col("block").alias("block_b"),
    )
    return (
        a.join(b, F.col("block_a") == F.col("block_b"))
        .where(F.col("shorter_doc") != F.col("longer_doc"))
        .where(F.col("shorter_len") <= F.col("longer_len"))
        .where(
            ~(
                (F.col("shorter_len") == F.col("longer_len"))
                & (F.col("shorter_doc") > F.col("longer_doc"))
            )
        )
        .where(
            F.expr("substring(text_b, 1, shorter_len)") == F.col("text_a")
        )
        .select("shorter_doc", "longer_doc", "shorter_len", "longer_len")
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH ordered AS (
        SELECT l_returnflag, l_extendedprice, l_quantity,
               CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_w,
               CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag) AS BIGINT) AS total_w
        FROM lineitem
    ), hit AS (
        SELECT l_returnflag, l_extendedprice, cum_w, total_w,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY cum_w, l_extendedprice) AS rn
        FROM ordered
        WHERE cum_w * 2 >= total_w
    )
    SELECT l_returnflag,
           total_w AS total_weight,
           ROUND(l_extendedprice, 2) AS weighted_median_price
    FROM hit WHERE rn = 1
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag — the
    weighted quantile (each line item counts by its quantity, so the
    median reflects UNITS sold, not rows): sort within group, cumulative
    weight, first row where 2·cum ≥ total. The total order
    (price, orderkey, linenumber) pins ties on both engines.

    This is the exact-sort baseline of the quantile family —
    `agg_histogram_sketch_quantiles` is the one-pass mergeable scale
    path; at 100 TB you run the sketch and keep this for validation
    slices (the same baseline/scale pairing as similarity_topk vs IVF).
    Weights accumulate as exact BIGINTs; the boundary test 2·cum ≥ total
    is integer arithmetic — no float anywhere until the final ROUND.
    """
    li = load(spark, sf_dir, "lineitem")
    worder = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wcum = worder.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("l_returnflag")
    q = F.col("l_quantity").cast("long")
    ordered = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum(q).over(wcum).alias("cum_w"),
        F.sum(q).over(wall).alias("total_w"),
    )
    hit = ordered.where(F.col("cum_w") * 2 >= F.col("total_w")).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_returnflag").orderBy("cum_w", "l_extendedprice")
        ),
    )
    return hit.where(F.col("rn") == 1).select(
        "l_returnflag",
        F.col("total_w").alias("total_weight"),
        F.round("l_extendedprice", 2).alias("weighted_median_price"),
    )
