"""Source/sink roundtrip operators (SURVEY.md §2.1).

The reference's loader surface is CSV-with-header (`spark.read.csv(...,
header=True, inferSchema=True)` — SURVEY.md §1.1 [PK]); our engine pins an
explicit schema on read-back instead of inferSchema so the oracle's schema
check can't be surprised by inference drift (§1.3).

The partitioned-parquet sink is the 100-TB write posture (SURVEY.md §7.6
"windowed/partitioned writes"): data is laid out by a low-cardinality
predicate column so downstream readers prune whole directories instead of
scanning and filtering — asserted as PartitionFilters in
tests/test_plans.py.

Both keys perform the write eagerly when the query function is invoked
(into a fresh ``catalog.stage_dir`` per call, so re-runs and concurrent
calls never share files) and return the LAZY read-back plan; the oracle
runs the same aggregation against the original table, proving the
roundtrip is lossless.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import (
    SCHEMAS,
    compact_parquet,
    load,
    stage_dir,
)


@register(
    "source_csv_roundtrip",
    oracle="""
    SELECT r_name,
           COUNT(*) AS n_nations,
           MIN(n_name) AS first_nation
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source roundtrip: write `nation` as header CSV, read it back
    with the catalog's EXPLICIT StructType (never inferSchema — §1.3),
    then join `region` (broadcast dim) and aggregate. The oracle runs the
    same query on the original parquet, so a hash match proves the CSV
    encode/decode is lossless for every column type it carries.

    Scale note: CSV is the interchange path, not the analytics path —
    reads are row-oriented with no pushdown/pruning, so the engine keeps
    CSV at the edges (tiny dims, ingestion) and converts to parquet
    before fact-scale work.
    """
    nation = load(spark, sf_dir, "nation")
    path = stage_dir("csv_nation")
    nation.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(SCHEMAS["nation"]).option("header", True).csv(path)
    region = load(spark, sf_dir, "region")
    return (
        back.join(F.broadcast(region), back.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
    )


@register(
    "sink_partitioned_roundtrip",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + pruned read-back: write `events`
    partitioned by event_type (5 directories), read back with an
    event_type predicate — the scan touches ONE partition directory
    (PartitionFilters, asserted in tests/test_plans.py) — and aggregate
    daily purchase totals. Oracle = the same aggregation on the original
    table: a hash match proves the partitioned layout is lossless.

    This is the 100-TB write discipline (SURVEY.md §7.6): lay facts out
    by the dominant filter column so readers prune directories for free;
    partition count stays bounded (low-cardinality column), so no
    small-file explosion.
    """
    e = load(spark, sf_dir, "events")
    path = stage_dir("events_by_type")
    e.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.where(F.col("event_type") == "purchase")
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
    )


@register("source_csv_malformed", oracle=None)
def source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-CSV ingestion modes: a staged CSV with deterministically
    injected bad lines (wrong arity, unparseable types) read back under
    PERMISSIVE (corrupt rows captured in _corrupt_record) and
    DROPMALFORMED (bad rows silently dropped).

    Rows-only (the staged file is synthesized, not a pre-registered
    view); tests/test_sources.py pins the exact good/bad counts. This is
    the ingestion-gate posture for 100-TB raw feeds: PERMISSIVE + corrupt
    quarantine beats failing the job on row 40-billion, and the corrupt
    count is the data-quality metric to alert on.
    """
    from pyspark.sql import types as T

    n_good = 500
    n_bad_arity = 7
    n_bad_type = 5
    path = os.path.join(stage_dir("csv_malformed"), "orders_dirty.csv")
    o = (
        load(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(n_good)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    rows = o.collect()  # bounded: n_good rows staged to a local edge file
    with open(path, "w") as f:
        f.write("o_orderkey,o_custkey,o_totalprice\n")
        for r in rows:
            f.write(f"{r.o_orderkey},{r.o_custkey},{r.o_totalprice}\n")
        for i in range(n_bad_arity):
            f.write(f"{900000 + i},missing_columns\n")
        for i in range(n_bad_type):
            f.write(f"{910000 + i},not_an_int,abc\n")

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    permissive = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()
    )
    # DROPMALFORMED subtlety: a row is only judged malformed if its
    # SELECTED columns fail to parse — count(*) with pruned columns sees
    # every line. Use the data schema (no corrupt column) and aggregate
    # over a real column to force full-row parsing.
    data_schema = T.StructType(schema.fields[:3])
    dropped = (
        spark.read.schema(data_schema)
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(path)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    return permissive.agg(
        F.count("*").alias("n_permissive_rows"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias("n_corrupt"),
        F.sum(F.col("_corrupt_record").isNull().cast("long")).alias("n_clean"),
    ).crossJoin(
        dropped.agg(
            F.count("o_totalprice").alias("n_dropmalformed_rows"),
        )
    )


@register("source_schema_evolution", oracle=None)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: a dataset directory whose older files
    lack a column that newer files carry (the additive-column lakehouse
    migration), read back with mergeSchema=true — old rows surface the
    new column as NULL, and per-generation accounting proves no row or
    value was lost.

    Rows-only (synthesized two-generation directory); exact counts pinned
    in tests/test_sources.py. Scale note: mergeSchema reads ALL file
    footers at planning time — on a 100 TB table keep schema in a
    catalog/metastore (or Delta-style transaction log) instead and pin
    mergeSchema off for the steady-state read path.
    """
    gen_dir = stage_dir("schema_evo")
    o = load(spark, sf_dir, "orders")
    base = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", F.lit("v1").alias("generation")
    )
    evolved = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_custkey",
        F.lit("v2").alias("generation"),
        F.col("o_totalprice").alias("total_price"),  # the added column
    )
    base.write.mode("overwrite").parquet(os.path.join(gen_dir, "gen=1"))
    evolved.write.mode("overwrite").parquet(os.path.join(gen_dir, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(gen_dir, "gen=1"), os.path.join(gen_dir, "gen=2")
    )
    return merged.groupBy("generation").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("total_price").isNull().cast("long")).alias("n_null_new_col"),
        F.round(
            F.coalesce(F.sum(F.col("total_price").cast("decimal(18,2)")), F.lit(0))
            .cast("double"),
            2,
        ).alias("sum_new_col"),
    )


@register("sink_dynamic_partition_overwrite", oracle=None)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: with partitionOverwriteMode=dynamic,
    an INSERT OVERWRITE only replaces the partitions present in the
    incoming data — the idempotent daily-refresh pattern (re-run a day's
    pipeline without touching the other 364 partitions; STATIC mode would
    wipe the whole table).

    Rows-only (synthesized two-step write); tests/test_sources.py pins
    that the rewritten partition changed and all others are bit-stable.
    """
    tbl = stage_dir("dyn_overwrite")
    e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    e.write.mode("overwrite").partitionBy("event_type").parquet(tbl)

    # refresh ONLY the 'click' partition, with values doubled; the per-write
    # option leaves the session's partitionOverwriteMode alone
    refreshed = (
        e.where(F.col("event_type") == "click")
        .withColumn("value", F.round(F.col("value") * 2, 2))
    )
    (
        refreshed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(tbl)
    )

    back = spark.read.parquet(tbl)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@register("source_python_datasource", oracle=None)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (Spark 4 DataSource API): a registered
    `synthetic_events` format whose reader plans 8 partitions and
    generates each shard worker-side — the public extension point for
    Python-readable systems (REST pages, custom formats) as first-class
    parallel sources (sources/pydatasource.py).

    Rows-only (no pre-registered view); tests/test_sources.py pins exact
    counts and the multiplicative-hash value sums, and asserts the scan
    really ran with 8 input partitions.
    """
    from classification_problem_with_pyspark_spark.sources.pydatasource import (
        SyntheticEventsSource,
    )

    spark.dataSource.register(SyntheticEventsSource)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", 4000)
        .option("n_parts", 8)
        .load()
    )
    return df.groupBy("category").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("part_id").alias("n_parts_touched"),
        F.sum("value").alias("value_sum"),
    )


@register(
    "source_binaryfile_media",
    oracle="""
    SELECT doc_id,
           md5(text) AS payload_md5,
           octet_length(encode(text)) AS byte_len
    FROM documents
    WHERE doc_id < 40
    """,
)
def source_binaryfile_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source — the real multimodal ingestion path (§2.12):
    media lands as FILES on object storage; ``spark.read.format
    ("binaryFile")`` turns the directory into a DataFrame of (path,
    modificationTime, length, content) with bytes as an opaque binary
    column, no codec needed. Here a bounded fixture (docs 0-39, staged
    per call — same bounded-collect posture as
    source_csv_malformed) round-trips text bytes through real files;
    doc_id is recovered from the file NAME, and the oracle's md5 over the
    original table proves byte-lossless ingestion.

    Scale: binaryFile lists + reads files in parallel across executors;
    per-file content must fit an executor's memory (spark caps single
    rows), so production tables chunk giant media server-side — the
    pattern this key pins is path→id parsing + checksum validation at
    ingest, before payloads enter parquet.
    """
    stage = stage_dir("binmedia")
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    # bounded fixture staging (40 rows) — not a hot path
    for r in d.select("doc_id", "text").collect():
        with open(os.path.join(stage, f"doc_{r.doc_id:05d}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    back = spark.read.format("binaryFile").load(stage)
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1).cast("long").alias("doc_id"),
        F.md5(F.decode("content", "UTF-8")).alias("payload_md5"),
        F.col("length").cast("long").alias("byte_len"),
    )


@register(
    "source_text_lines",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           MIN(md5(text)) AS min_text_md5
    FROM documents
    GROUP BY lang
    """,
)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source (the log/JSONL-adjacent format): write
    documents as TSV-framed text lines (lang\\tdoc_id\\ttext — corpus text
    contains no tabs/newlines, which the write would corrupt and the
    oracle hash would catch), read back with ``spark.read.text``, re-parse
    with substring_index, and aggregate per language. Proves the text
    round-trip is lossless and the parse is a pure scan-side projection.

    Scale: text reads split by line across tasks with no schema work;
    like CSV it has no pushdown/pruning, so the engine treats it as an
    ingestion edge format and converts to parquet before fact-scale work.
    """
    stage = stage_dir("textlines")
    d = load(spark, sf_dir, "documents")
    d.select(
        F.concat_ws("\t", F.col("lang"), F.col("doc_id").cast("string"), F.col("text")).alias(
            "value"
        )
    ).write.mode("overwrite").text(stage)
    back = spark.read.text(stage)
    parsed = back.select(
        F.substring_index("value", "\t", 1).alias("lang"),
        F.substring_index(F.substring_index("value", "\t", 2), "\t", -1).alias("doc_id"),
        F.substring_index("value", "\t", -1).alias("text"),
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min(F.md5("text")).alias("min_text_md5"),
    )


@register(
    "sink_compaction_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def sink_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — THE 100-TB housekeeping job: a
    deliberately fragmented write (64 round-robin files, the shape a
    streaming sink or over-parallel job leaves behind) is compacted to 4
    evenly-sized files via round-robin repartition, and the aggregate
    over the COMPACTED copy must hash-match the original table — data
    moved twice, changed never. File-count reduction (64 → 4) is
    asserted in tests/test_sources.py; per-file open/footer overhead is
    why thousands of KB-files throttle a scan that the same bytes in
    128 MB-1 GB files serve at full throughput.
    """
    e = load(spark, sf_dir, "events")
    root = stage_dir("compaction")
    frag, compact = os.path.join(root, "frag"), os.path.join(root, "compact")
    e.repartition(64).write.mode("overwrite").parquet(frag)
    compact_parquet(spark, frag, compact, 4)
    back = spark.read.parquet(compact)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0
        ).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )
