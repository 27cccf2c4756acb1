"""``md5_long``, the engine's portable hash, against its two references:
Python's ``hashlib`` and the DuckDB spelling the oracles use, and its
Python twin ``md5_long_py`` against it. A tripwire keeps the
hand-written idiom, in Python calls or in Spark SQL strings, out of the
package."""

from __future__ import annotations

import ast
import glob
import hashlib
import os
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions import hashing
from classification_problem_with_pyspark_spark.functions.hashing import md5_hex, md5_long, md5_long_py
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR_SMOKE

PKG = os.path.dirname(os.path.dirname(os.path.abspath(hashing.__file__)))
EXTRA_INPUTS = ["", "Ünïcødé — 日本語 ✓", None]


def _hex_long(s: str | None, lo: int, hi: int) -> int | None:
    return None if s is None else int(hashlib.md5(s.encode()).hexdigest()[lo:hi], 16)


def test_md5_long_matches_hashlib_and_duckdb(spark):
    docs = load(spark, SF_DIR_SMOKE, "documents").select(
        F.concat(F.lit("split_"), F.col("doc_id").cast("string")).alias("s")
    )
    extra = spark.createDataFrame([(s,) for s in EXTRA_INPUTS], "s string")
    rows = (
        docs.unionByName(extra)
        .select(
            "s",
            md5_long("s", 8).alias("h8"),
            md5_long("s").alias("h15"),
            md5_long("s", start=16).alias("h15_16"),
            F.md5("s").alias("hex"),
        )
        .collect()
    )
    inputs = [r.s for r in rows]
    assert len(inputs) > len(EXTRA_INPUTS) and set(EXTRA_INPUTS) <= set(inputs)
    assert len(set(inputs)) == len(inputs)
    spark_out = {r.s: (r.h8, r.h15, r.h15_16) for r in rows}
    # the Python twin, on every non-NULL input
    assert {r.s: (r.hex, r.h15) for r in rows if r.s is not None} == {
        s: (md5_hex(s), md5_long_py(s)) for s in inputs if s is not None
    }
    assert spark_out == {
        s: (_hex_long(s, 0, 8), _hex_long(s, 0, 15), _hex_long(s, 15, 30)) for s in inputs
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t (s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(s,) for s in inputs])
    duck_out = {
        s: (h8, h15)
        for s, h8, h15 in con.execute(
            "SELECT s, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT),"
            " CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) FROM t"
        ).fetchall()
    }
    con.close()
    assert duck_out == {s: v[:2] for s, v in spark_out.items()}
    assert spark_out[None] == (None, None, None)


@pytest.mark.parametrize("digits", [0, 16])
def test_md5_long_rejects_digits_outside_1_to_15(digits):
    with pytest.raises(ValueError, match=rf"\b{digits}\b"):
        md5_long("s", digits)


def _hand_written_md5_slices(source: str) -> set[int]:
    """Lines of ``conv(...)`` calls with an ``md5(...)`` inside a
    ``substring(...)`` inside their arguments: the idiom ``md5_long``
    replaces."""

    def calls(node, name):
        return [
            n
            for n in ast.walk(node)
            if isinstance(n, ast.Call) and getattr(n.func, "attr", getattr(n.func, "id", None)) == name
        ]

    return {
        conv.lineno
        for conv in calls(ast.parse(source), "conv")
        if any(calls(sub, "md5") for arg in conv.args for sub in calls(arg, "substring"))
    }


# Spark SQL's spelling of the idiom; DuckDB's ('0x' || substr(md5(…)…))
# oracle spelling is a different string and stays.
_SQL_MD5_SLICE = re.compile(r"conv\s*\(\s*substr(ing)?\s*\(\s*md5\s*\(", re.IGNORECASE)


def _sql_md5_slices(source: str) -> set[int]:
    """Lines of string constants, docstrings aside, that spell the idiom
    in Spark SQL: ``conv(substr(md5(...), ...), 16, 10)``."""
    tree = ast.parse(source)
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    return {
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docstrings
        and _SQL_MD5_SLICE.search(node.value)
    }


def test_sql_md5_slice_detector_flags_the_idiom():
    source = '''
"""conv(substr(md5(x), 1, 15), 16, 10) in a docstring is prose."""
a = "CAST(conv(substr(md5('a_' || x), 1, 15), 16, 10) AS BIGINT)"
b = f"""CASE WHEN CONV( substring(md5(concat('b_', {c})), 1, 15), 16, 10)"""
ok1 = "CAST(('0x' || substr(md5('a_' || x), 1, 15)) AS BIGINT)"
ok2 = "conv(substr(sha2(x, 256), 1, 15), 16, 10)"
def f():
    """conv(substr(md5(y), 1, 8), 16, 10) is prose here too."""
'''
    assert _sql_md5_slices(source) == {3, 4}


def test_md5_slice_detector_flags_the_idiom():
    source = """
h = F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")
g = conv(substring(md5("t"), 1, 8), 16, 10)
k = F.conv(
    F.substring(F.md5(F.concat(F.lit("a_"), y)), start, 15), 16, 10
)
ok1 = F.conv(F.substring(F.sha2(x, 256), 1, 15), 16, 10)
ok2 = F.substring(F.md5(x), 1, 8)
ok3 = md5_long(x, 8)
"""
    assert _hand_written_md5_slices(source) == {2, 3, 4}


def test_md5_slice_is_written_only_in_hashing():
    with open(hashing.__file__) as f:
        assert _hand_written_md5_slices(f.read()), "the scan must see the helper's own body"
    offenders = []
    for py in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        if py == hashing.__file__:
            continue
        with open(py) as f:
            source = f.read()
        lines = _hand_written_md5_slices(source) | _sql_md5_slices(source)
        offenders += [f"{os.path.relpath(py, PKG)}:{n}" for n in sorted(lines)]
    assert not offenders, f"hand-written md5 slice, use functions.hashing.md5_long: {offenders}"
