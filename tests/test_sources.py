"""Source/sink tests (SURVEY.md §2.1): CSV loader (the reference's canonical
entry point) with pinned-schema and inferSchema paths, parquet sink, and the
scale-posture assertion that a hive-partitioned write gives readers static
partition pruning.
"""

from __future__ import annotations

import ast
import glob
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from classification_problem_with_pyspark_spark.plans.explain import formatted_plan
from classification_problem_with_pyspark_spark.sources import catalog
from classification_problem_with_pyspark_spark.sources.catalog import (
    SCHEMAS,
    TABLES,
    assert_catalog_schemas,
    load,
    path_for,
    read_csv,
    write_parquet,
)
from tests.conftest import SF_DIR_SMOKE, staged_dir

_TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


@pytest.fixture()
def scratch():
    d = os.path.join(_TMP, f"sources_{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_csv_roundtrip_pinned_schema(spark, scratch):
    ref = load(spark, SF_DIR_SMOKE, "customer")
    csv_dir = os.path.join(scratch, "customer_csv")
    ref.write.mode("overwrite").option("header", "true").csv(csv_dir)

    back = read_csv(spark, csv_dir, table="customer")
    assert back.schema == SCHEMAS["customer"]
    assert back.count() == ref.count()
    assert back.agg(F.sum("c_custkey")).first()[0] == ref.agg(F.sum("c_custkey")).first()[0]


def test_csv_infer_schema_matches_notebook_behavior(spark, scratch):
    ref = load(spark, SF_DIR_SMOKE, "region")
    csv_dir = os.path.join(scratch, "region_csv")
    ref.write.mode("overwrite").option("header", "true").csv(csv_dir)

    inferred = read_csv(spark, csv_dir, infer_schema=True)
    assert inferred.count() == ref.count()
    # inferSchema lands on integer for the key column, as the notebook relies on
    assert dict(inferred.dtypes)["r_regionkey"] == "int"


def test_partitioned_write_prunes_on_read(spark, scratch):
    events = load(spark, SF_DIR_SMOKE, "events")
    out = os.path.join(scratch, "events_by_type")
    write_parquet(events, out, partition_by=("event_type",))

    # hive layout on disk: one directory per partition value
    parts = [p for p in os.listdir(out) if p.startswith("event_type=")]
    assert len(parts) >= 2, parts

    back = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = formatted_plan(back)
    # static partition pruning: the scan's PartitionFilters carry the
    # predicate, so non-matching directories are never opened.
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1][:200], plan
    assert back.count() == events.where(F.col("event_type") == "click").count()


def test_compaction_produces_exact_file_count(spark, scratch):
    from classification_problem_with_pyspark_spark.sources.catalog import compact_parquet

    src = os.path.join(scratch, "fragmented")
    load(spark, SF_DIR_SMOKE, "events").repartition(37).write.parquet(src)
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 37

    dst = os.path.join(scratch, "compacted")
    compact_parquet(spark, src, dst, num_files=4)
    assert len([f for f in os.listdir(dst) if f.endswith(".parquet")]) == 4
    assert spark.read.parquet(dst).count() == spark.read.parquet(src).count()


def test_kafka_parse_transform_on_mocked_wire_schema(spark):
    """parse_kafka_events is a pure transform: drive it with a batch
    DataFrame carrying Kafka's exact source schema (no broker needed)."""
    import datetime as dt
    import json

    from pyspark.sql import types as T

    from classification_problem_with_pyspark_spark.sources.kafka import parse_kafka_events

    wire_schema = T.StructType(
        [
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("timestampType", T.IntegerType()),
        ]
    )
    payload = {
        "event_id": 7,
        "ts": "2024-01-02T03:04:05.000006",
        "user_id": 42,
        "event_type": "click",
        "value": 1.5,
        "props": '{"k": 3}',
    }
    def enc(ts_string, event_id):
        return json.dumps({**payload, "ts": ts_string, "event_id": event_id}).encode()

    rows = [
        (
            b"42",
            json.dumps(payload).encode(),
            "events",
            0,
            100,
            dt.datetime(2024, 1, 2, 3, 4, 6),
            0,
        ),
        # Real producers vary the fractional precision and timezone suffix;
        # the lenient default parser must accept all of these (ADVICE r3:
        # a pinned timestampFormat silently nulled everything but .SSSSSS).
        (b"a", enc("2024-01-02T03:04:05.123", 8), "events", 0, 101, dt.datetime(2024, 1, 2), 0),
        (b"b", enc("2024-01-02T03:04:05", 9), "events", 0, 102, dt.datetime(2024, 1, 2), 0),
        (b"c", enc("2024-01-02T03:04:05.123456Z", 10), "events", 0, 103, dt.datetime(2024, 1, 2), 0),
        (b"x", b"not json", "events", 1, 5, dt.datetime(2024, 1, 2), 0),
    ]
    parsed = parse_kafka_events(spark.createDataFrame(rows, wire_schema))
    out = parsed.collect()
    byoff = {r.kafka_offset: r for r in out}
    good = byoff[100]
    assert (good.event_id, good.user_id, good.event_type, good.value) == (7, 42, "click", 1.5)
    assert good.ts == dt.datetime(2024, 1, 2, 3, 4, 5, 6)
    assert good.props == '{"k": 3}'
    assert byoff[101].ts == dt.datetime(2024, 1, 2, 3, 4, 5, 123000)
    assert byoff[102].ts == dt.datetime(2024, 1, 2, 3, 4, 5)
    assert byoff[103].ts == dt.datetime(2024, 1, 2, 3, 4, 5, 123456)  # session TZ=UTC
    # malformed JSON degrades to NULL fields, never a crash
    assert byoff[5].event_id is None

    # dead-letter split makes the null-ts rows observable instead of letting
    # them flow into watermarks as null event time
    from classification_problem_with_pyspark_spark.sources.kafka import split_dead_letter

    good_df, dead_df = split_dead_letter(parsed)
    assert sorted(r.kafka_offset for r in good_df.collect()) == [100, 101, 102, 103]
    dead = dead_df.collect()
    assert [r.kafka_offset for r in dead] == [5]
    assert dead[0].topic == "events"  # replay position retained


def test_kafka_reader_raises_actionable_error_without_connector(spark):
    from classification_problem_with_pyspark_spark.sources.kafka import kafka_stream_reader

    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        kafka_stream_reader(spark, "localhost:9092", "events")


def test_csv_malformed_counts_exact(spark):
    """PERMISSIVE must quarantine exactly the injected bad lines;
    DROPMALFORMED must keep exactly the good ones."""
    from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
    from tests.conftest import SF_DIR

    load_all_modules()
    r = QUERIES["source_csv_malformed"].fn(spark, SF_DIR).collect()[0]
    assert r.n_permissive_rows == 512          # 500 good + 12 bad
    assert r.n_corrupt == 12
    assert r.n_clean == 500
    assert r.n_dropmalformed_rows == 500


def test_schema_evolution_backfills_nulls(spark):
    """mergeSchema must surface the added column as NULL for every v1 row
    and preserve all rows from both generations."""
    from pyspark.sql import functions as F

    from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
    from classification_problem_with_pyspark_spark.sources.catalog import load
    from tests.conftest import SF_DIR

    load_all_modules()
    rows = {
        r.generation: r
        for r in QUERIES["source_schema_evolution"].fn(spark, SF_DIR).collect()
    }
    o = load(spark, SF_DIR, "orders")
    n_even = o.where(F.col("o_orderkey") % 2 == 0).count()
    n_odd = o.where(F.col("o_orderkey") % 2 == 1).count()
    assert rows["v1"].n_rows == n_even and rows["v1"].n_null_new_col == n_even
    assert rows["v1"].sum_new_col == 0.0
    assert rows["v2"].n_rows == n_odd and rows["v2"].n_null_new_col == 0
    assert rows["v2"].sum_new_col > 0


def test_dynamic_partition_overwrite_touches_only_target(spark):
    """After the dynamic overwrite of the 'click' partition (values x2),
    click totals double and every other partition is unchanged."""
    from pyspark.sql import functions as F

    from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
    from classification_problem_with_pyspark_spark.sources.catalog import load
    from tests.conftest import SF_DIR

    load_all_modules()
    got = {
        r.event_type: (r.n_rows, r.value_cents)
        for r in QUERIES["sink_dynamic_partition_overwrite"].fn(spark, SF_DIR).collect()
    }
    orig = {
        r.event_type: (r.n, r.cents)
        for r in load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    for etype, (n, cents) in orig.items():
        if etype == "click":
            assert got[etype][0] == n
            # doubled-then-rounded cents: recompute exactly
            doubled = (
                load(spark, SF_DIR, "events")
                .where(F.col("event_type") == "click")
                .select(
                    F.sum(
                        F.round(F.round(F.col("value") * 2, 2) * 100).cast("long")
                    ).alias("c")
                )
                .collect()[0]
                .c
            )
            assert got[etype][1] == doubled
        else:
            assert got[etype] == (n, cents), etype


def test_python_datasource_partitioned_and_deterministic(spark):
    """The custom Python data source must produce exactly the derived
    rows, across all 8 planned partitions."""
    from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
    from tests.conftest import SF_DIR

    load_all_modules()
    rows = {
        r.category: r
        for r in QUERIES["source_python_datasource"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {f"cat_{i}" for i in range(5)}
    assert sum(r.n_rows for r in rows.values()) == 4000
    for cat, r in rows.items():
        i0 = int(cat.split("_")[1])
        expected = sum((i * 2654435761) % 1000 for i in range(i0, 4000, 5))
        assert r.value_sum == expected, cat
    assert max(r.n_parts_touched for r in rows.values()) == 8


def test_catalog_schema_drift_tripwire(spark):
    """Round-2 tripwire (VERDICT r1): regenerated testdata must never again
    silently strand half the registry. load() at every SF must yield exactly
    the catalog's declared SCHEMAS — any parquet re-encoding load() can't
    absorb fails here with a per-column diff."""
    for sf_dir in (SF_DIR_SMOKE, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")):
        assert_catalog_schemas(spark, sf_dir)


def test_compaction_reduces_file_count(spark):
    """sink_compaction_roundtrip's data parity is oracle-checked; THIS
    asserts the layout effect: 64 fragment files collapse to 4."""
    from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules

    load_all_modules()
    df = QUERIES["sink_compaction_roundtrip"].fn(spark, SF_DIR_SMOKE)
    df.count()
    # Find the stage dir from the files the op's result reads (ADVICE r2:
    # hardcoded absolute paths + an exact 64 broke on any other checkout or
    # a fixture smaller than 64 rows — Spark writes no part file for empty
    # partitions).
    root = staged_dir(df, "compaction")
    frag = glob.glob(os.path.join(root, "frag", "part-*.parquet"))
    compact = glob.glob(os.path.join(root, "compact", "part-*.parquet"))
    assert len(frag) > len(compact), (len(frag), len(compact))
    assert 1 <= len(compact) <= 4, len(compact)


# -- catalog.load's per-file inferred-schema cache ---------------------------


def _copy_tables(dst: str) -> str:
    for t in TABLES:
        shutil.copy(path_for(SF_DIR_SMOKE, t), path_for(dst, t))
    return dst


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted through its own job group."""
    sc = spark.sparkContext
    group = f"catalog-cache-{uuid.uuid4().hex[:8]}"
    marker = f"{group}-marker"
    for g, run in ((group, fn), (marker, lambda: spark.range(1).count())):
        sc.setJobGroup(g, "catalog cache test")
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    # Job events reach the status tracker through the asynchronous listener
    # bus, in order: once the marker job shows, every job of fn has too.
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the status tracker"
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_infers_schema_once_per_file(spark, tmp_path):
    """The first load of a file runs Spark's footer-schema job; a repeat
    load of the unchanged file reads with the cached schema and runs none."""
    sf = _copy_tables(str(tmp_path))
    assert _jobs_launched(spark, lambda: load(spark, sf, "lineitem")) >= 1
    assert _jobs_launched(spark, lambda: load(spark, sf, "lineitem")) == 0
    assert load(spark, sf, "lineitem").schema == SCHEMAS["lineitem"]


def test_load_picks_up_rewritten_ts_encoding(spark, tmp_path):
    """A file rewritten in place with another timestamp encoding is inferred
    again (its size/mtime stamp changed) and coerced to the same values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = _copy_tables(str(tmp_path))
    path = path_for(sf, "events")
    original = pq.read_table(path)
    ts_at = original.schema.get_field_index("ts")

    def ts_rows():
        return load(spark, sf, "events").orderBy("event_id").select("event_id", "ts").collect()

    want = ts_rows()
    for arrow_type, inferred_type in (
        (pa.timestamp("ns"), T.LongType()),  # int64 nanos, read via nanosAsLong
        (pa.timestamp("us", tz="UTC"), T.TimestampType()),
        (pa.timestamp("us"), T.TimestampNTZType()),
    ):
        ts = original.column("ts").cast(arrow_type)
        pq.write_table(original.set_column(ts_at, "ts", ts), path, version="2.6")
        assert ts_rows() == want, arrow_type
        assert catalog._INFERRED[os.path.abspath(path)][1]["ts"].dataType == inferred_type
        assert_catalog_schemas(spark, sf)


def test_load_reads_directory_table_uncached(spark, tmp_path):
    """A ``<table>.parquet`` directory (the cluster layout) still loads,
    through the uncached read."""
    sf = str(tmp_path)
    table_dir = path_for(sf, "events")
    os.makedirs(table_dir)
    shutil.copy(path_for(SF_DIR_SMOKE, "events"), os.path.join(table_dir, "part-00000.parquet"))
    df = load(spark, sf, "events")
    assert df.schema == SCHEMAS["events"]
    assert df.count() == load(spark, SF_DIR_SMOKE, "events").count()
    assert os.path.abspath(table_dir) not in catalog._INFERRED


def test_threaded_loads_match_serial(spark, tmp_path):
    """4 threads sharing one session each load all ten tables 3 times, the
    first of them racing on a cold cache: every result has the catalog
    schema and the serial row count."""
    sf = _copy_tables(str(tmp_path))
    serial = {t: load(spark, SF_DIR_SMOKE, t).count() for t in TABLES}

    def client(_):
        out = []
        for _ in range(3):
            for t in TABLES:
                df = load(spark, sf, t)
                out.append((t, df.schema, df.count()))
        return out

    with ThreadPoolExecutor(4) as pool:
        results = [r for rs in pool.map(client, range(4)) for r in rs]
    assert len(results) == 4 * 3 * len(TABLES)
    for t, schema, n in results:
        assert schema == SCHEMAS[t], t
        assert n == serial[t], t


def _sf_dir_parquet_scans(source: str) -> set[int]:
    """Lines of ``<x>.read.parquet(...)`` calls whose path is built from
    ``sf_dir``: the name itself, an f-string or ``+`` starting with it,
    ``os.path.join(sf_dir, ...)``, ``path_for(...)``, or a local variable
    assigned one of these. Staging paths from ``stage_dir`` are not under
    ``sf_dir`` and pass."""

    def rooted(e, local) -> bool:
        if isinstance(e, ast.Name):
            return e.id == "sf_dir" or e.id in local
        if isinstance(e, ast.Starred):
            return rooted(e.value, local)
        if isinstance(e, ast.JoinedStr):
            return bool(e.values) and isinstance(e.values[0], ast.FormattedValue) and rooted(e.values[0].value, local)
        if isinstance(e, ast.BinOp) and isinstance(e.op, ast.Add):
            return rooted(e.left, local)
        if isinstance(e, ast.Call):
            name = getattr(e.func, "attr", getattr(e.func, "id", None))
            return name == "path_for" or (name == "join" and bool(e.args) and rooted(e.args[0], local))
        return False

    hits = set()
    for fn in ast.walk(ast.parse(source)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        assigns = [
            (t.id, n.value)
            for n in ast.walk(fn)
            if isinstance(n, ast.Assign)
            for t in n.targets
            if isinstance(t, ast.Name)
        ]
        local: set[str] = set()
        while True:
            grown = local | {name for name, value in assigns if rooted(value, local)}
            if grown == local:
                break
            local = grown
        for n in ast.walk(fn):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "parquet"
                and isinstance(n.func.value, ast.Attribute)
                and n.func.value.attr == "read"
                and any(rooted(a, local) for a in n.args)
            ):
                hits.add(n.lineno)
    return hits


def test_sf_dir_scan_detector_flags_catalog_paths():
    source = """
def op(spark, sf_dir):
    p = catalog.path_for(sf_dir, "orders")
    q = os.path.join(sf_dir, "events.parquet")
    a = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = spark.read.parquet(p)
    c = spark.read.parquet(q)
    d = spark.read.parquet(sf_dir + "/part.parquet")
    stage = os.path.join(stage_dir("x"), "part")
    e = spark.read.parquet(stage)
    f = spark.read.parquet(stage_dir("k"))
"""
    assert _sf_dir_parquet_scans(source) == {5, 6, 7, 8}


def test_catalog_tables_scanned_only_through_load():
    """Every Spark scan of a catalog table goes through catalog.load (and so
    its schema cache and timestamp coercions); operators never call
    ``spark.read.parquet`` on a path under ``sf_dir``."""
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(catalog.__file__)))
    offenders = []
    for sub in ("operators", "functions"):
        for py in sorted(glob.glob(os.path.join(pkg, sub, "**", "*.py"), recursive=True)):
            with open(py) as f:
                lines = _sf_dir_parquet_scans(f.read())
            offenders += [f"{os.path.relpath(py, pkg)}:{n}" for n in sorted(lines)]
    assert not offenders, f"read.parquet on a catalog path, use catalog.load: {offenders}"
