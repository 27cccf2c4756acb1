"""Staged files: every op that writes to disk gets its own directory from
``catalog.stage_dir``, so a key gives the same result whether it runs once,
again, or from several threads sharing one session."""

from __future__ import annotations

import ast
import glob
import os
import re
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources import catalog
from classification_problem_with_pyspark_spark.sources.catalog import TMP_DIR, stage_dir
from tests.conftest import SF_DIR_SMOKE

PKG = os.path.dirname(os.path.dirname(os.path.abspath(catalog.__file__)))

load_all_modules()


def _py_files(*subs: str) -> list[str]:
    return sorted(
        py for sub in subs for py in glob.glob(os.path.join(PKG, sub, "**", "*.py"), recursive=True)
    )


def _staging_keys() -> list[str]:
    """Registered keys whose function reaches ``stage_dir``, directly or
    through helpers in ``operators/`` or ``streaming/`` (matched by name)."""
    calls: dict[str, set[str]] = {}
    registered: list[tuple[str, str]] = []  # (key, function name)
    for py in _py_files("operators", "streaming"):
        with open(py) as f:
            tree = ast.parse(f.read())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            calls.setdefault(fn.name, set()).update(
                getattr(n.func, "id", getattr(n.func, "attr", None))
                for n in ast.walk(fn)
                if isinstance(n, ast.Call)
            )
            registered += [
                (d.args[0].value, fn.name)
                for d in fn.decorator_list
                if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
            ]
    reach = {"stage_dir"}
    while True:
        grown = reach | {name for name, called in calls.items() if called & reach}
        if grown == reach:
            break
        reach = grown
    return sorted(key for key, name in registered if name in reach)


def _rows(spark, key: str) -> list[tuple]:
    return sorted(map(tuple, QUERIES[key].fn(spark, SF_DIR_SMOKE).collect()), key=repr)


def test_stage_dir_is_fresh_and_empty_per_call():
    a, b = stage_dir("probe"), stage_dir("probe")
    assert a != b
    for d in (a, b):
        assert os.path.isdir(d) and not os.listdir(d)
        assert os.path.basename(d).startswith("probe_")
        assert os.path.commonpath([d, TMP_DIR]) == TMP_DIR
    assert os.path.dirname(a) == os.path.dirname(b)  # one root per process


def test_stage_root_is_removed_at_exit(tmp_path):
    code = (
        "from classification_problem_with_pyspark_spark.sources.catalog import stage_dir\n"
        "open(stage_dir('probe') + '/f', 'w').close()\n"
    )
    env = {**os.environ, "SPARK_GRAFT_TMP": str(tmp_path), "PYTHONPATH": os.path.dirname(PKG)}
    subprocess.run([sys.executable, "-c", code], env=env, check=True, timeout=120)
    assert os.listdir(tmp_path) == []


def test_staging_key_scan_finds_the_staging_ops():
    keys = _staging_keys()
    assert set(keys) <= set(QUERIES), set(keys) - set(QUERIES)
    # the three perfbench staging ops, a direct-call op in another module,
    # and one that stages through the streaming wrappers
    assert {
        "sink_partitioned_roundtrip",
        "source_csv_roundtrip",
        "source_text_lines",
        "sink_merge_on_read_roundtrip",
        "stream_foreach_batch_sink",
    } <= set(keys)


def test_staging_keys_match_serial_from_four_threads(spark):
    """Four concurrent calls of every staging key on one session each
    return exactly the rows of a serial call."""
    keys = _staging_keys()
    serial = {key: _rows(spark, key) for key in keys}

    def call(key: str):
        try:
            return _rows(spark, key)
        except Exception as e:  # noqa: BLE001 — reported as a mismatch below
            return f"{type(e).__name__}: {str(e)[:200]}"

    jobs = [key for key in keys for _ in range(4)]
    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(call, jobs))
    bad = {key: got for key, got in zip(jobs, results) if got != serial[key]}
    assert not bad, bad


@pytest.mark.parametrize(
    "key, conf, value",
    [
        ("source_parquet_int96_timestamps", "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS"),
        ("sink_dynamic_partition_overwrite", "spark.sql.sources.partitionOverwriteMode", "STATIC"),
    ],
)
def test_staging_op_leaves_session_conf_unchanged(spark, key, conf, value):
    saved = spark.conf.get(conf)
    try:
        for v in (saved, value):
            spark.conf.set(conf, v)
            QUERIES[key].fn(spark, SF_DIR_SMOKE).collect()
            assert spark.conf.get(conf) == v
    finally:
        spark.conf.set(conf, saved)


def test_only_catalog_names_the_staging_root():
    """Staging paths come from ``stage_dir`` alone: no other module builds
    one from ``TMP_DIR``, and no operator or stream wrapper deletes files
    (a fresh directory has nothing to clear)."""
    catalog_py = os.path.join(PKG, "sources", "catalog.py")
    offenders = []
    for py in _py_files(""):
        with open(py) as f:
            src = f.read()
        rel = os.path.relpath(py, PKG)
        if py != catalog_py and re.search(r"\bTMP_DIR\b", src):
            offenders.append(f"{rel}: TMP_DIR")
        if rel.startswith(("operators", "streaming")) and "rmtree" in src:
            offenders.append(f"{rel}: rmtree")
    assert not offenders, offenders
