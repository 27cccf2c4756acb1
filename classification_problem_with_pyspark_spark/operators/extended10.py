"""Round-3 extension pack #10: lakehouse and ingestion-edge completions —
a merge-on-read table layout (base snapshot + delta log, reconstructed at
read time), day-of-week seasonality residuals, and quoted-multiline CSV
ingestion.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. All patterns here are public
knowledge — merge-on-read as described for Apache Hudi/Iceberg (base files
+ row-level delete/upsert logs, latest-writer-wins reconstruction),
day-of-week seasonal baselining, and RFC-4180 quoted CSV with embedded
newlines — expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-3 standard): money folds integer cents with
the 10% uplift as exact integer div((cents*11), 10); seasonality residuals
are single-expression IEEE doubles floored to BIGINT micro-units; the CSV
key's gnarly text transform is defined identically on both engines so the
roundtrip aggregate hash-checks.

Scale posture (SURVEY.md §7.6):
- MOR: the log is read-side merged with ONE window over the primary key
  — the Hudi/Iceberg read path; compaction (pack-2's
  sink_compaction_roundtrip) bounds log length; at 100 TB the window
  keys on (file-group, key) so reconstruction parallelizes per group.
- Seasonality residuals run over bounded per-type daily aggregates.
- Multiline CSV parsing is single-threaded PER FILE (a quoted record
  can span chunk boundaries, so Spark disables intra-file splitting
  with multiLine) — the docstring carries the many-small-files
  countermeasure; this is an ingestion-edge format, not a fact layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, stage_dir


@register(
    "sink_merge_on_read_roundtrip",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), final AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'R'
                    ELSE o_orderstatus END AS status,
               CASE WHEN o_orderkey % 7 = 0 THEN (cents * 11) // 10
                    ELSE cents END AS cents
        FROM base WHERE o_orderkey % 13 <> 0
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM final GROUP BY status ORDER BY status
    """,
)
def sink_merge_on_read_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read table layout (SURVEY.md §2.1), the Hudi/Iceberg
    pattern: a parquet BASE snapshot of orders plus a JSON-lines DELTA
    LOG carrying row-level upserts (keys ≡0 mod 7: status→'R', +10%
    price) and deletes (keys ≡0 mod 13, higher sequence number — delete
    wins over upsert on overlap), reconstructed at READ time by one
    latest-sequence-wins window over the primary key. The oracle
    recomputes the same final state straight from the original table,
    so a hash match proves the file-backed base+log reconstruction is
    exactly the logical merge — the complement of `merge_upsert`
    (copy-on-write, merge at WRITE time).

    Exact money: integer cents, 10% uplift as div(cents*11, 10) —
    integer floor-division on both engines, no float money anywhere.

    Scale: reads merge base+log with ONE window keyed on the primary
    key (at 100 TB: on (file-group, key) so groups reconstruct
    independently); unbounded logs are retired by compaction
    (sink_compaction_roundtrip) exactly as Hudi's compactor does.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    root = stage_dir("mor_orders")
    base_path, log_path = os.path.join(root, "base"), os.path.join(root, "log")
    o.write.mode("overwrite").parquet(base_path)
    upserts = o.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
        F.lit("R").alias("status"),
        F.expr("div(cents * 11, 10)").alias("cents"),
    )
    deletes = o.where(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("long").alias("cents"),
    )
    upserts.unionByName(deletes).write.mode("overwrite").json(log_path)

    back_base = spark.read.parquet(base_path).select(
        "o_orderkey",
        F.lit("B").alias("op"),
        F.lit(0).alias("seq"),
        F.col("o_orderstatus").alias("status"),
        "cents",
    )
    back_log = spark.read.schema(
        "o_orderkey long, op string, seq int, status string, cents long"
    ).json(log_path)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    reconstructed = (
        back_base.unionByName(back_log)
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    return (
        reconstructed.groupBy("status")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("status")
    )


@register(
    "events_dow_seasonality_residual",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(extract(dow FROM ts) + 1 AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2, 3
    ), expected AS (
        SELECT event_type, dow, avg(cnt) AS exp_cnt FROM daily GROUP BY 1, 2
    )
    SELECT d.event_type, d.day, d.cnt,
           CAST(floor(e.exp_cnt * 1000000.0) AS BIGINT) AS expected_micro,
           CAST(floor(1000000.0 * (d.cnt - e.exp_cnt) / e.exp_cnt) AS BIGINT)
               AS residual_micro
    FROM daily d JOIN expected e USING (event_type, dow)
    ORDER BY d.event_type, d.day
    """,
)
def events_dow_seasonality_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality residuals (SURVEY.md §2.13): per
    event_type, compare each day's volume against the average for that
    WEEKDAY (Mondays against Mondays), emitting the seasonal baseline
    and the relative residual in micro-units. The de-seasonalized
    anomaly view — `events_anomaly_zscore`'s global baseline flags every
    busy Monday; this baseline only flags days unusual FOR their
    weekday.

    Determinism: exp_cnt is one exact-integer sum / count; the residual
    is a single IEEE expression floored to BIGINT micro-units —
    bit-identical on both engines. Spark's dayofweek (1=Sunday) aligns
    with DuckDB's extract(dow)+1.

    Scale: both aggregates are bounded by the calendar (types × days,
    types × 7) — map-side-combinable groupBys over the fact, then a
    broadcast-sized join.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.dayofweek("ts").cast("long").alias("dow"),
    ).agg(F.count("*").alias("cnt"))
    expected = daily.groupBy("event_type", "dow").agg(
        F.avg("cnt").alias("exp_cnt")
    )
    return (
        daily.join(F.broadcast(expected), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "cnt",
            F.floor(F.col("exp_cnt") * 1000000.0).cast("long").alias("expected_micro"),
            F.floor(1000000.0 * (F.col("cnt") - F.col("exp_cnt")) / F.col("exp_cnt"))
            .cast("long")
            .alias("residual_micro"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "source_csv_multiline_quoted",
    oracle="""
    WITH gnarly AS (
        SELECT doc_id, lang,
               CASE
                   WHEN doc_id % 3 = 0 THEN replace(text, ' ', chr(10))
                   WHEN doc_id % 3 = 1 THEN replace(text, ' ', '","')
                   ELSE text
               END AS text
        FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN contains(text, chr(10)) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_multiline
    FROM gnarly GROUP BY lang ORDER BY lang
    """,
)
def source_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-multiline CSV ingestion (SURVEY.md §2.1), the RFC-4180
    edge every real CSV feed eventually hits: documents whose text is
    deterministically mangled to contain embedded NEWLINES (doc_id≡0
    mod 3), embedded QUOTE-COMMA-QUOTE sequences (≡1 mod 3), or left
    clean, written as quoted/escaped CSV and read back with
    multiLine=true + escape handling. The per-lang char/doc aggregate
    hash-matches the oracle computed on the same transform of the
    ORIGINAL table — the roundtrip is proven lossless through quoting,
    escaping, and record-spanning-newline parsing.

    Scale warning (the reason this is an edge format): multiLine
    disables intra-file splitting — a quoted record can span any chunk
    boundary, so each file parses on one core. Land such feeds as many
    medium files (or convert once to parquet) before fact-scale use;
    never as one giant CSV.
    """
    d = load(spark, sf_dir, "documents")
    gnarly = d.select(
        "doc_id",
        "lang",
        F.when(F.col("doc_id") % 3 == 0, F.regexp_replace("text", " ", "\n"))
        .when(F.col("doc_id") % 3 == 1, F.regexp_replace("text", " ", '","'))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    path = stage_dir("csv_multiline")
    (
        gnarly.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .option("escape", '"')
        .csv(path)
    )
    back = (
        spark.read.schema("doc_id long, lang string, text string")
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(path)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.sum(F.when(F.col("text").contains("\n"), 1).otherwise(0))
            .cast("long")
            .alias("n_multiline"),
        )
        .orderBy("lang")
    )
