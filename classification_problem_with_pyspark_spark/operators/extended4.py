"""Round-1 extension pack #4: additional source formats (JSONL, ORC
roundtrips) and lakehouse maintenance patterns (SCD2 dimension history,
incremental aggregate merge).

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. All patterns here are public
knowledge (Spark source APIs, the SCD Type 2 idiom, incremental view
maintenance) over the driver's testdata schema.

Scale posture (SURVEY.md §7.5-7.6):
- roundtrip writes are eager, deterministic-path, mode=overwrite
  (idempotent re-runs), read-back plans lazy — same discipline as
  operators/sinks.py;
- JSONL/CSV are edge-interchange formats only: row-oriented, no pushdown
  — the engine converts to parquet/ORC before fact-scale work;
- SCD2 windows partition per user (bounded state); the incremental-merge
  pattern is the 100-TB daily-refresh posture: re-aggregate ONLY the new
  partition and merge 5-row summaries, never rescan history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.operators.sinks import _roundtrip_dir
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import SCHEMAS, load

_D = "decimal(18,2)"
TS_US = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@register(
    "source_jsonl_roundtrip",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY lang, source
    """,
)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source roundtrip: write `documents` as JSONL, read it
    back with the catalog's EXPLICIT StructType (never schema inference —
    SURVEY.md §1.3), aggregate per (lang, source). Oracle = the same
    aggregation on the original parquet: a hash match proves the JSON
    encode/decode is lossless for int64/string columns.

    Scale note: JSONL is the ingestion-edge format (crawl dumps, API
    exports) — no pushdown, row-oriented, ~4x parquet size. The engine
    reads it once with a pinned schema and lands parquet for real work.
    """
    d = load(spark, sf_dir, "documents")
    path = _roundtrip_dir("jsonl_documents", sf_dir)
    d.write.mode("overwrite").json(path)
    back = spark.read.schema(SCHEMAS["documents"]).json(path)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_order,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_order
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source roundtrip: write `orders` as ORC, read it back, and
    aggregate per status with exact decimal money sums and date bounds.
    Oracle = the same aggregation on the original parquet: a hash match
    proves the ORC path preserves int64/double/string/timestamp exactly.

    Scale note: ORC is the second columnar citizen (predicate pushdown,
    column pruning, stripe statistics all apply) — kept at full fidelity
    as an alternative lake format; unlike CSV/JSONL it IS fact-scale
    safe.
    """
    o = load(spark, sf_dir, "orders")
    path = _roundtrip_dir("orc_orders", sf_dir)
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(_D)).cast("double").alias("total_price"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order"),
    )


@register(
    "scd2_user_type_history",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts,
               LAG(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_type, ts
        FROM seq
        WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS effective_from,
           COALESCE(strftime(LEAD(ts) OVER w2, '%Y-%m-%d %H:%M:%S.%f'),
                    '9999-12-31 00:00:00.000000') AS effective_to,
           CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)
    """,
)
def scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension history built from the events stream: each
    user's event_type run-changes become versioned validity intervals
    [effective_from, effective_to), open intervals closed with a
    9999-12-31 sentinel — the lakehouse slowly-changing-dimension build.

    Two per-user windows: LAG marks change points (run-length compress),
    LEAD closes each interval with the next change's timestamp. State is
    bounded per user and the change-point filter shrinks data BEFORE the
    second window. Timestamps leave as µs-formatted strings on both
    engines; version is a per-user ordinal.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id",
            "event_type",
            "ts",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .drop("prev_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts")
    return changes.select(
        "user_id",
        "event_type",
        F.date_format("ts", TS_US).alias("effective_from"),
        F.coalesce(
            F.date_format(F.lead("ts").over(w2), TS_US),
            F.lit("9999-12-31 00:00:00.000000"),
        ).alias("effective_to"),
        F.row_number().over(w2).cast("long").alias("version"),
    )


@register(
    "merge_incremental_agg",
    oracle="""
    WITH base AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(18,2))) AS v
        FROM events WHERE ts < TIMESTAMP '2024-01-20'
        GROUP BY event_type
    ),
    delta AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(18,2))) AS v
        FROM events WHERE ts >= TIMESTAMP '2024-01-20'
        GROUP BY event_type
    )
    SELECT COALESCE(base.event_type, delta.event_type) AS event_type,
           COALESCE(base.n, 0) + COALESCE(delta.n, 0) AS n_total,
           CAST(COALESCE(base.v, CAST(0 AS DECIMAL(18,2)))
                + COALESCE(delta.v, CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
               AS value_total,
           base.event_type IS NOT NULL AS in_base,
           delta.event_type IS NOT NULL AS in_delta
    FROM base FULL OUTER JOIN delta ON base.event_type = delta.event_type
    """,
)
def merge_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a historical summary (events
    before a cutoff) merged with a fresh-partition delta summary via
    FULL OUTER + COALESCE — the daily-refresh pattern that avoids
    rescanning history.

    Both inputs are pre-reduced to ≤5 rows BEFORE the merge join, so the
    expensive work is two partition-pruned scans and the merge is
    broadcast-trivial; at 100 TB only the delta partition is ever
    re-aggregated (count/sum are algebraic, so partials compose).
    tests/test_scale_helpers.py asserts merged == full recompute.
    """
    e = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20").cast("timestamp")

    def summarize(df: DataFrame, n_name: str, v_name: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias(n_name),
            F.sum(F.col("value").cast(_D)).alias(v_name),
        )

    base = summarize(e.where(F.col("ts") < cutoff), "bn", "bv").withColumnRenamed(
        "event_type", "b_type"
    )
    delta = summarize(e.where(F.col("ts") >= cutoff), "dn", "dv").withColumnRenamed(
        "event_type", "d_type"
    )
    zero = F.lit(0).cast(_D)
    merged = base.join(delta, base.b_type == delta.d_type, "full_outer")
    return merged.select(
        F.coalesce("b_type", "d_type").alias("event_type"),
        (F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n_total"),
        (F.coalesce("bv", zero) + F.coalesce("dv", zero)).cast("double").alias(
            "value_total"
        ),
        F.col("b_type").isNotNull().alias("in_base"),
        F.col("d_type").isNotNull().alias("in_delta"),
    )


# ---------------------------------------------------------------------------
# Event analytics: Shannon entropy of the event mix per day
# ---------------------------------------------------------------------------


@register(
    "agg_entropy_daily_mix",
    oracle="""
    WITH day_counts AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               event_type, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT day, SUM(c) AS n FROM day_counts GROUP BY day)
    SELECT strftime(t.day, '%Y-%m-%d') AS day,
           CAST(t.n AS BIGINT) AS n_events,
           ROUND(-SUM((CAST(c AS DOUBLE) / t.n)
                      * log2(CAST(c AS DOUBLE) / t.n)), 6) AS entropy_bits
    FROM day_counts d JOIN tot t ON d.day = t.day
    GROUP BY t.day, t.n
    """,
)
def agg_entropy_daily_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of the event-type mix per day — the
    diversity statistic behind drift monitors and balanced-sampling
    checks in training pipelines.

    Both engines derive p = c/n from the SAME exact integer counts and
    sum ≤5 float terms per day; round(,6) absorbs last-ulp ordering.
    The heavy aggregation is the integer (day, type) count — map-side
    partial, bounded keys; the entropy pass runs over ~150 tiny rows.
    """
    e = load(spark, sf_dir, "events")
    day_counts = (
        e.groupBy(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            "event_type",
        )
        .agg(F.count("*").alias("c"))
    )
    tot = day_counts.groupBy("day").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        day_counts.join(tot, "day")
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"), F.col("n").alias("n_events"))
        .agg(F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"))
    )


# ---------------------------------------------------------------------------
# Approximate frequent items (heavy hitters)
# ---------------------------------------------------------------------------


@register("agg_freq_items", oracle=None)
def agg_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters via DataFrame.stat.freqItems (the
    Karp-Shenker-Papadimitriou single-pass algorithm) over order
    priorities and statuses, exploded to one row per candidate item.

    Rows-only: KSP guarantees a superset of items above the support
    threshold, not exact counts — deterministic for a fixed input and
    partitioning but not SQL-expressible. The single-pass, mergeable
    state (bounded by 1/support candidates per column) is exactly what a
    100-TB profiler wants — no groupBy shuffle at all.
    """
    o = load(spark, sf_dir, "orders")
    fi = o.stat.freqItems(["o_orderpriority", "o_orderstatus"], support=0.1)
    pri = fi.select(
        F.lit("o_orderpriority").alias("column"),
        F.explode("o_orderpriority_freqItems").alias("item"),
    )
    st = fi.select(
        F.lit("o_orderstatus").alias("column"),
        F.explode("o_orderstatus_freqItems").alias("item"),
    )
    return pri.unionByName(st).orderBy("column", "item")


@register(
    "agg_sample_estimate",
    oracle="""
    WITH sampled AS (
        SELECT l_returnflag,
               CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev,
               CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || ':'
                     || CAST(l_linenumber AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)
                     % 10 = 0 AS in_sample
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(SUM(rev) AS DOUBLE) AS true_revenue,
           CAST(SUM(CASE WHEN in_sample THEN rev END) * 10 AS DOUBLE) AS est_revenue,
           CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           ROUND(CAST(ABS(SUM(CASE WHEN in_sample THEN rev END) * 10 - SUM(rev)) AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE) * 100, 4) AS rel_err_pct
    FROM sampled
    GROUP BY l_returnflag
    """,
)
def agg_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing by deterministic hash sampling: a 10%
    sample selected by md5(orderkey:linenumber) mod 10 estimates per-flag
    revenue (×10 scale-up), reported NEXT TO the exact value with the
    measured relative error — the accuracy accounting an AQP layer owes
    its users.

    Why hash- not Bernoulli-sampled: the sample is a pure key function —
    re-derivable by any engine/worker (this very oracle re-derives it),
    stable under repartitioning, and composable across queries (the same
    10% stratum serves every estimate, so estimates are mutually
    consistent). At 100 TB the sample predicate evaluates scan-side
    (one md5 per row, no shuffle), and both sums ride ONE aggregation:
    a conditional sum, not a second scan. All money math is DECIMAL; the
    one float division (error ratio) is rounded on both engines.
    """
    li = load(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    in_sample = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10
        == 0
    )
    s = li.select("l_returnflag", rev.alias("rev"), in_sample.alias("in_sample"))
    true_sum = F.sum("rev")
    est_sum = F.sum(F.when(F.col("in_sample"), F.col("rev"))) * 10
    return s.groupBy("l_returnflag").agg(
        true_sum.cast("double").alias("true_revenue"),
        est_sum.cast("double").alias("est_revenue"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0)).alias("n_sampled"),
        F.round(
            F.abs(est_sum - true_sum).cast("double") / true_sum.cast("double") * 100, 4
        ).alias("rel_err_pct"),
    )


@register(
    "layout_zorder_cluster",
    oracle="""
    WITH bucketed AS (
        SELECT o_orderkey,
               NTILE(16) OVER (ORDER BY o_custkey, o_orderkey) - 1 AS xb,
               NTILE(16) OVER (ORDER BY o_totalprice, o_orderkey) - 1 AS yb
        FROM orders
    ), z AS (
        SELECT o_orderkey, xb, yb,
               (((xb >> 0) & 1) << 0) | (((yb >> 0) & 1) << 1) |
               (((xb >> 1) & 1) << 2) | (((yb >> 1) & 1) << 3) |
               (((xb >> 2) & 1) << 4) | (((yb >> 2) & 1) << 5) |
               (((xb >> 3) & 1) << 6) | (((yb >> 3) & 1) << 7) AS zval
        FROM bucketed
    ), files AS (
        SELECT *, NTILE(16) OVER (ORDER BY zval, o_orderkey) - 1 AS zfile
        FROM z
    )
    SELECT zfile,
           COUNT(*) AS n_rows,
           MIN(xb) AS min_xb, MAX(xb) AS max_xb,
           MIN(yb) AS min_yb, MAX(yb) AS max_yb
    FROM files
    GROUP BY zfile
    """,
)
def layout_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) multi-dimensional clustering — the layout
    maintenance job behind Delta/Iceberg ``OPTIMIZE ZORDER BY``: bucket
    two filter columns into 16 quantile ranks each, interleave their bits
    into one z-value, sort by it, and cut 16 equal "files". The reported
    per-file (min,max) envelopes of BOTH dimensions are the file-skipping
    statistics a reader consults: under z-order every file spans ≲¼ of
    each dimension, so a selective predicate on EITHER column prunes most
    files — a single-column sort bounds one dimension and leaves the
    other spanning every file.

    Scale: quantile bucketing at 100 TB uses approx quantile boundaries
    broadcast to mappers (no global sort for RANKS); the final sort is the
    write job's one legitimate global order — exactly what OPTIMIZE
    spends its time on. Here NTILE stands in for the boundary table so
    the oracle derives bit-identical buckets.
    """
    o = load(spark, sf_dir, "orders")
    wx = Window.orderBy("o_custkey", "o_orderkey")
    wy = Window.orderBy("o_totalprice", "o_orderkey")
    b = o.select(
        "o_orderkey",
        (F.ntile(16).over(wx) - 1).alias("xb"),
        (F.ntile(16).over(wy) - 1).alias("yb"),
    )
    z = b.withColumn(
        "zval",
        F.expr(
            "(((xb >> 0) & 1) << 0) | (((yb >> 0) & 1) << 1) | "
            "(((xb >> 1) & 1) << 2) | (((yb >> 1) & 1) << 3) | "
            "(((xb >> 2) & 1) << 4) | (((yb >> 2) & 1) << 5) | "
            "(((xb >> 3) & 1) << 6) | (((yb >> 3) & 1) << 7)"
        ),
    )
    files = z.withColumn(
        "zfile", F.ntile(16).over(Window.orderBy("zval", "o_orderkey")) - 1
    )
    return files.groupBy("zfile").agg(
        F.count("*").alias("n_rows"),
        F.min("xb").alias("min_xb"),
        F.max("xb").alias("max_xb"),
        F.min("yb").alias("min_yb"),
        F.max("yb").alias("max_yb"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS distinct_users,
           COUNT(DISTINCT date_trunc('day', ts)) AS n_days
    FROM events
    GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via Spark 3.5 BITMAP aggregates, verified
    against COUNT(DISTINCT): per (event_type, day, bitmap-bucket) a
    roaring-style bitmap of user bit positions is CONSTRUCTED, then
    per-type bitmaps are OR-MERGED across days and counted. The oracle is
    plain COUNT(DISTINCT) — a hash match proves the bitmap rollup is
    exactly lossless.

    Why this beats COUNT(DISTINCT) at 100 TB: the day-level bitmap table
    is a REUSABLE pre-aggregate — any date range's distinct count is a
    bitmap_or_agg + bitmap_count over it (mergeable, like HLL sketches
    but exact), while COUNT(DISTINCT) re-shuffles raw (type, user) pairs
    for every query. Bucket number is part of the intermediate key —
    each bitmap covers 32768 bit positions, so ids of any magnitude
    partition correctly across (type, bucket) bitmaps.
    """
    e = load(spark, sf_dir, "events")
    day_bitmaps = (
        e.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    per_bucket = day_bitmaps.groupBy("event_type", "bucket").agg(
        F.expr("bitmap_count(bitmap_or_agg(bm))").alias("bucket_users")
    )
    users = per_bucket.groupBy("event_type").agg(
        F.sum("bucket_users").alias("distinct_users")
    )
    # day coverage counts ALL buckets' days — a per-bucket max would
    # undercount once ids span multiple 32768-wide buckets
    days = day_bitmaps.groupBy("event_type").agg(F.countDistinct("day").alias("n_days"))
    return users.join(days, "event_type").select(
        "event_type", "distinct_users", "n_days"
    )


@register(
    "scalar_url_suite",
    oracle="""
    SELECT p_partkey,
           'https' AS proto,
           lower(replace(p_brand, '#', '')) || '.example.com' AS host,
           '/part/' || CAST(p_partkey AS VARCHAR) AS path,
           'size=' || CAST(p_size AS VARCHAR) || '&type='
               || replace(p_type, ' ', '-') AS query,
           CAST(p_size AS VARCHAR) AS size_param,
           'sec' || CAST(p_partkey % 3 AS VARCHAR) AS fragment
    FROM part
    """,
)
def scalar_url_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL function family (§2.8 gap): build a URL from part columns,
    then recover every component with ``parse_url`` (PROTOCOL / HOST /
    PATH / QUERY / parameterized QUERY / REF). The oracle re-derives the
    components directly from the source columns, so a hash match proves
    parse_url exactly inverts the construction — including the '#'
    stripped from brands (illegal in authority) and spaces dashed in the
    query (parse_url stops at whitespace otherwise).

    Scale: pure codegen'd string expressions, no shuffle — the shape of
    every log-enrichment pipeline's URL-splitting stage.
    """
    p = load(spark, sf_dir, "part")
    url = F.concat(
        F.lit("https://"),
        F.lower(F.regexp_replace("p_brand", "#", "")),
        F.lit(".example.com/part/"),
        F.col("p_partkey").cast("string"),
        F.lit("?size="),
        F.col("p_size").cast("string"),
        F.lit("&type="),
        F.regexp_replace("p_type", " ", "-"),
        F.lit("#sec"),
        (F.col("p_partkey") % 3).cast("string"),
    )
    u = p.select("p_partkey", url.alias("url"))
    return u.select(
        "p_partkey",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("size")).alias("size_param"),
        F.parse_url("url", F.lit("REF")).alias("fragment"),
    )


@register(
    "scalar_xml_suite",
    oracle="""
    SELECT s_suppkey,
           s_suppkey AS xml_key,
           s_name AS xml_name,
           s_nationkey AS xml_nation,
           CAST(s_acctbal AS DOUBLE) AS xml_acctbal
    FROM supplier
    """,
)
def scalar_xml_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML parsing (Spark 4 ``from_xml``, the §2.8 family's newest
    member): serialize supplier rows into XML documents in-query, parse
    them back with a typed schema, and emit the recovered fields. The
    oracle reads the fields straight off the table, so a hash match
    proves serialize→parse is an exact identity for every typed column
    (including doubles — Spark casts their canonical string forms back
    losslessly). Same construct-then-invert pattern as scalar_url_suite;
    supplier names contain no XML-special characters (hash-verified).

    Scale: from_xml is a JVM-side expression over each row's string —
    no shuffle, codegen-adjacent; the shape of every feed-ingestion
    pipeline that lands XML payloads in a string column.
    """
    s = load(spark, sf_dir, "supplier")
    xml = F.concat(
        F.lit("<supplier><key>"),
        F.col("s_suppkey").cast("string"),
        F.lit("</key><name>"),
        F.col("s_name"),
        F.lit("</name><nation>"),
        F.col("s_nationkey").cast("string"),
        F.lit("</nation><acctbal>"),
        F.col("s_acctbal").cast("string"),
        F.lit("</acctbal></supplier>"),
    )
    x = s.select("s_suppkey", xml.alias("x"))
    schema = "key BIGINT, name STRING, nation INT, acctbal DOUBLE"
    return x.select(
        "s_suppkey", F.from_xml("x", schema).alias("doc")
    ).select(
        "s_suppkey",
        F.col("doc.key").alias("xml_key"),
        F.col("doc.name").alias("xml_name"),
        F.col("doc.nation").alias("xml_nation"),
        F.col("doc.acctbal").alias("xml_acctbal"),
    )


@register(
    "join_dim_snapshot_asof",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts,
               LAG(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), changes AS (
        SELECT user_id, event_type AS dim_type, ts AS eff_from,
               COALESCE(LEAD(ts) OVER w2, TIMESTAMP '9999-12-31')
                   AS eff_to
        FROM (SELECT user_id, event_type, ts FROM seq
              WHERE prev_type IS NULL OR prev_type <> event_type) c
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)
    ), purchases AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT d.dim_type,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM purchases p
    JOIN changes d
      ON p.user_id = d.user_id AND p.ts >= d.eff_from AND p.ts < d.eff_to
    GROUP BY d.dim_type
    """,
)
def join_dim_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈SCD2 dimension AS OF fact time — the lakehouse join every
    versioned-dimension model needs: each purchase is attributed to the
    dimension version whose validity interval [eff_from, eff_to) contains
    the purchase timestamp. The SCD2 intervals are built in-query from
    the events stream (same run-length construction as
    scd2_user_type_history); purchases then join on user_id with the
    interval containment as a residual predicate.

    Scale shape: this is an EQUI-join on user_id (hash/broadcast-able,
    never a nested loop — each user's handful of versions rides along as
    the residual filter), which is exactly why SCD2 keys every interval
    by its natural key: interval joins WITHOUT an equi key degenerate to
    range-join machinery (see join_range_bucketed for that rewrite).
    Every purchase matches exactly one version (intervals partition the
    timeline per user from each user's first event, and a user's first
    event bounds all their events) — asserted by the count equality in
    the oracle hash.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id", "event_type", "ts", F.lag("event_type").over(w).alias("prev_type")
        )
        .where(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .drop("prev_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts")
    dim = changes.select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("dim_type"),
        F.col("ts").alias("eff_from"),
        F.coalesce(
            F.lead("ts").over(w2), F.lit("9999-12-31").cast("timestamp")
        ).alias("eff_to"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return (
        purchases.join(
            dim,
            (purchases.user_id == dim.d_user)
            & (purchases.ts >= dim.eff_from)
            & (purchases.ts < dim.eff_to),
        )
        .groupBy("dim_type")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.col("value").cast(_D)).cast("double").alias("total_value"),
        )
    )
