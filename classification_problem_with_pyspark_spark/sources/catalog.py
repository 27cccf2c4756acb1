"""Catalog: explicit StructTypes + loaders for the ten testdata tables.

The reference's schema handling is CSV `inferSchema=True` (SURVEY.md §1.3);
our engine pins explicit schemas so oracle schema checks can never be
surprised by inference drift. Schemas transcribed from FIXTURES.md
(measured from the parquet, 2026-08-13).

100-TB note (SURVEY.md §7.6): loaders return lazy DataFrames over the
parquet paths; no data caching; the inferred schema is cached per file;
no collecting here. On a cluster the same code reads a partitioned
directory instead of a single file — path in, plan out.
"""

from __future__ import annotations

import atexit
import os
import shutil
import stat
import tempfile
import threading

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# Where staged files go: SPARK_GRAFT_TMP, else `.tmp` at the checkout root.
# Only stage_dir writes here.
TMP_DIR = os.environ.get("SPARK_GRAFT_TMP") or os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".tmp",
)

_STAGE_LOCK = threading.Lock()
_stage_root: str | None = None


def stage_dir(kind: str) -> str:
    """A new, empty directory for one call's staged files.

    Every call gets its own directory, so the same op can run again, or
    in several threads or processes at once, without touching another
    call's files. The directories live under one root per process in
    ``TMP_DIR``, removed when the process exits: the DataFrame an op
    returns reads its staged files lazily, so they must outlive the call.
    """
    global _stage_root
    with _STAGE_LOCK:
        if _stage_root is None:
            os.makedirs(TMP_DIR, exist_ok=True)
            _stage_root = tempfile.mkdtemp(prefix="stage_", dir=TMP_DIR)
            atexit.register(shutil.rmtree, _stage_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{kind}_", dir=_stage_root)


SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            # parquet holds timestamp[ns]; Spark reads at µs precision —
            # values carry only µs so truncation is lossless (FIXTURES.md).
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES: tuple[str, ...] = tuple(SCHEMAS)


def path_for(sf_dir: str, table: str) -> str:
    return f"{sf_dir}/{table}.parquet"


# Confs that change how Spark converts a parquet footer to a StructType;
# a cached schema is valid only while they keep the values it was read under.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# abspath -> (stamp, inferred StructType); one entry per path, replaced
# whenever the stamp changes. Plain dict ops are atomic under the GIL; two
# threads that miss together both infer and store the same schema.
_INFERRED: dict[str, tuple[tuple, T.StructType]] = {}


def _stamp(spark: SparkSession, path: str) -> tuple | None:
    """(size, mtime_ns, schema confs) of a regular local file; None for a
    directory, a URI or anything os.stat cannot read (left uncached)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_size, st.st_mtime_ns, *(spark.conf.get(c) for c in _SCHEMA_CONFS))


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Lazy parquet scan for one table, coerced to the catalog's types.

    The first call for a file lets Spark infer its schema (one Spark job,
    the footer merge) and caches that StructType under the file's absolute
    path; later calls read with ``spark.read.schema(inferred)``, which
    launches no job. An entry is refreshed when the file's size or
    mtime_ns, or one of the parquet conversion confs in ``_SCHEMA_CONFS``,
    differs from when it was inferred. Only regular local files are cached;
    a directory or URI is inferred on every call. No data is cached.

    The catalog's DECLARED schema is never passed to ``spark.read``: a
    timestamp unit that does not match the file would disable the
    vectorized reader's pushdown. The cached schema is the one Spark read
    from the file itself, so that concern does not apply to it. The
    declared SCHEMAS are what the coercions below aim at, and what tests
    assert the result matches.
    """
    if table not in SCHEMAS:
        raise KeyError(f"unknown table {table!r}; known: {TABLES}")
    # The testdata's timestamp physical encoding has DRIFTED between
    # generations: events.ts shipped as parquet TIMESTAMP(NANOS) (which
    # Spark 4 refuses by default — PARQUET_TYPE_ILLEGAL — unless read as
    # int64 via nanosAsLong), then as timestamp[us] UTC-adjusted; orders /
    # lineitem date columns currently ship as timestamp[us] NTZ. Never
    # assume the unit or adjustment: set the legacy conf so a nanos file
    # loads at all, read, then coerce each column to the catalog type based
    # on the dtype Spark ACTUALLY inferred. Values carry only µs precision
    # in every generation, so nanos→µs truncation is lossless, and the
    # session tz is pinned UTC so NTZ→TZ is a pure type relabel (no instant
    # shift) — DuckDB sees identical wall-clock values (SURVEY.md §7.5).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin the session TZ here, not only in the engine's own session factory:
    # the grading driver builds a VANILLA session, and on a non-UTC host
    # every unix_timestamp/date_format/date_trunc key plus the NTZ→TZ
    # relabel below would silently shift (VERDICT r2 "Next round #6").
    # Runtime-settable conf; idempotent; every query funnels through load().
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = path_for(sf_dir, table)
    key = os.path.abspath(path)
    # Stamp BEFORE inferring: a file rewritten in between is stored under
    # its old stamp, so the next call sees a mismatch and infers again.
    stamp = _stamp(spark, path)
    cached = _INFERRED.get(key)
    if stamp is not None and cached is not None and cached[0] == stamp:
        schema = cached[1]
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
        if stamp is not None:
            _INFERRED[key] = (stamp, schema)
    from pyspark.sql import functions as F

    inferred = {f.name: f.dataType for f in schema}
    coerce = {}
    for field in SCHEMAS[table]:
        if not isinstance(field.dataType, T.TimestampType):
            continue
        actual = inferred.get(field.name)
        if isinstance(actual, T.LongType):
            # nanos-as-long file: integer nanos → µs TimestampType.
            coerce[field.name] = F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
        elif isinstance(actual, T.TimestampNTZType):
            coerce[field.name] = F.col(field.name).cast(T.TimestampType())
        # already TimestampType (or absent): pass through untouched.
    return df.withColumns(coerce) if coerce else df


def bounded_collect(df: DataFrame, *, max_rows: int, what: str) -> list:
    """Driver-side materialization of a provably BOUNDED relation, for
    fixture staging (the source/sink roundtrip keys write tiny CSV/JSONL
    fixtures from the nation/supplier dims and read them back through the
    engine). This is the ONLY sanctioned `.collect()` spelling for those
    sites (VERDICT r11 #8): it makes the boundedness claim EXECUTABLE —
    `limit(max_rows + 1)` caps what can ever reach the driver, and a loud
    error fires if the relation outgrew its documented bound — instead of
    a per-file allowlist comment. At 100 TB a dim that silently grew past
    its assumed size fails the job here rather than OOMing the driver.

    The limit does not change results on the conforming path: every call
    site sorts/consumes ALL rows of a relation whose true cardinality is
    <= max_rows, and the overflow path raises before any row is used."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"bounded_collect: {what} exceeded its documented bound of "
            f"{max_rows} rows — the relation is no longer driver-safe; "
            "keep it distributed (broadcast/join) instead"
        )
    return rows


def local_rows(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small driver-side relation (result rows, lookup tables, metric
    lists) as a ``LocalRelation``: materializing it runs no Spark job and
    no Python worker. ``spark.createDataFrame(rows, schema)`` would give
    an RDD-backed ``LogicalRDD`` instead, whose every read is a job that
    re-pickles the rows through Python workers.

    `rows` are plain tuples (or lists) in the column order of `schema`,
    a DDL string. Each row is checked by the verifier ``createDataFrame``
    applies to Python rows, because the Arrow build alone would silently
    coerce: ``1`` into a double column becomes ``1.0`` and ``1.7`` into a
    long column becomes ``1``; here both raise, as does an int out of its
    32-bit range."""
    struct = T._parse_datatype_string(schema)
    verify = T._make_type_verifier(struct)
    rows = list(rows)
    for row in rows:
        if type(row) not in (tuple, list):
            raise TypeError(f"local_rows takes plain tuples, got {type(row).__name__}")
        verify(row)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct)
    table = pa.Table.from_arrays(
        [pa.array(list(col), type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def assert_catalog_schemas(spark: SparkSession, sf_dir: str) -> None:
    """Schema-drift tripwire (round-2, VERDICT r1 item 2).

    Round 1 died because regenerated testdata silently changed events.ts
    from INT64-nanos to timestamp[us] and the loader assumed the old
    encoding — 52 query keys + the driver bench crashed. This assertion
    compares what ``load()`` actually yields against the catalog's declared
    SCHEMAS for every table and fails with a per-column diff, so any future
    regeneration that ``load()``'s coercions can't absorb is caught at
    session start / test start instead of deep inside an operator.
    """
    problems: list[str] = []
    for t in TABLES:
        actual = load(spark, sf_dir, t).schema
        want = SCHEMAS[t]
        if actual == want:
            continue
        a_by_name = {f.name: f.dataType for f in actual}
        w_by_name = {f.name: f.dataType for f in want}
        if list(a_by_name) != list(w_by_name):
            problems.append(
                f"{t}: column set/order drift actual={list(a_by_name)} catalog={list(w_by_name)}"
            )
        for name in w_by_name:
            if name in a_by_name and a_by_name[name] != w_by_name[name]:
                problems.append(
                    f"{t}.{name}: actual={a_by_name[name].simpleString()} "
                    f"catalog={w_by_name[name].simpleString()}"
                )
    if problems:
        raise AssertionError(
            "testdata schema drift vs catalog SCHEMAS (update catalog.py "
            "SCHEMAS or teach load() the new encoding):\n  " + "\n  ".join(problems)
        )


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register temp views so every query is runnable via spark.sql too."""
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def read_csv(
    spark: SparkSession,
    path: str,
    table: str | None = None,
    header: bool = True,
    infer_schema: bool = False,
) -> DataFrame:
    """CSV loader — the reference's canonical entry point
    (``spark.read.csv(..., header=True, inferSchema=True)``, SURVEY.md §2.1).

    Prefer ``table=`` (pins the catalog StructType — one pass, no inference
    drift); ``infer_schema=True`` reproduces the notebook behavior, which
    costs an EXTRA full scan of the data to sample types — at 100 TB that
    is the difference between one pass and two, which is why the engine's
    own tables are schema-pinned parquet.
    """
    reader = spark.read.option("header", str(header).lower())
    if table is not None:
        reader = reader.schema(SCHEMAS[table])
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Parquet sink (SURVEY.md §2.1). ``partition_by`` produces a
    hive-partitioned directory layout — the 100-TB write posture: readers
    filtering on the partition column scan only matching directories
    (static partition pruning; asserted in tests/test_sources.py)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 8,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Bucketed managed-table sink (SURVEY.md §7.6 co-located joins).

    Bucketing pre-shuffles ONCE at write time: both sides of a recurring
    join written with the same bucket spec join with NO exchange (and no
    sort, if ``sort_cols`` matches) — at 100 TB this turns every
    fact⋈fact join on the bucket key from a full network shuffle into a
    local per-bucket merge. Asserted in tests/test_sources.py.
    """
    # Idempotent across SESSIONS, not just runs: a fresh session's catalog
    # doesn't know the table, but the managed location from a previous
    # session still exists on disk and saveAsTable then fails with
    # LOCATION_ALREADY_EXISTS — drop the catalog entry AND the orphan dir.
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(warehouse, table_name.lower()), ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    num_files: int,
) -> None:
    """Small-file compaction (the 100-TB housekeeping job): rewrite a
    parquet directory into exactly ``num_files`` files via round-robin
    repartition. Streaming sinks and fine-grained partitioned writes leave
    thousands of KB-sized files whose per-file open/footer cost dominates
    scans; periodic compaction to ~128 MB-1 GB files restores scan
    throughput. Round-robin (not coalesce) so output files are even-sized
    regardless of input skew."""
    spark.read.parquet(src).repartition(num_files).write.mode("overwrite").parquet(dst)
