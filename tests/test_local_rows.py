"""``catalog.local_rows``, the one way the package builds a relation from
Python rows: it gives the rows and schema ``createDataFrame(rows, ddl)``
gives, as a ``LocalRelation`` that reads back without a Spark job, and
rejects the values that ``createDataFrame`` rejects but an Arrow build
alone would coerce. A tripwire keeps every other ``createDataFrame(``
call out of the package."""

from __future__ import annotations

import ast
import glob
import math
import os

import pytest
from pyspark.sql.types import _parse_datatype_string

from classification_problem_with_pyspark_spark.sources import catalog
from classification_problem_with_pyspark_spark.sources.catalog import local_rows

PKG = os.path.dirname(os.path.dirname(os.path.abspath(catalog.__file__)))
DDL = "i int, l long, d double, s string, b boolean, a array<double>"
ROWS = [
    (1, 2**40, 1.5, "x", True, [1.0, -2.5]),
    (-(2**31), -1, float("nan"), "", False, [float("nan")]),
    (None, None, None, None, None, None),
    (7, 0, -0.0, "Ünïcødé", True, []),
]


def _canon(rows) -> list[tuple]:
    """Rows as tuples with NaN spelled out, so equal rows compare equal."""

    def c(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, list):
            return tuple(c(x) for x in v)
        return v

    return [tuple(c(v) for v in r) for r in rows]


def test_rows_and_schema_match_create_data_frame(spark):
    df = local_rows(spark, ROWS, DDL)
    ref = spark.createDataFrame(ROWS, DDL)
    assert df.schema == _parse_datatype_string(DDL) == ref.schema
    assert _canon(df.collect()) == _canon(ref.collect()) == _canon(ROWS)


def test_empty_rows_keep_the_schema(spark):
    df = local_rows(spark, [], DDL)
    assert df.schema == _parse_datatype_string(DDL)
    assert df.collect() == []


def test_plan_is_a_local_relation_and_reading_it_runs_no_job(spark):
    df = local_rows(spark, ROWS, DDL)
    assert df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    sc = spark.sparkContext
    sc.setJobGroup("local_rows_probe", "read a local relation")
    try:
        assert len(df.collect()) == len(ROWS)
        assert list(sc.statusTracker().getJobIdsForGroup("local_rows_probe")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize(
    "row, ddl",
    [
        ((1,), "x double"),  # Arrow alone makes 1.0
        ((1.7,), "x long"),  # Arrow alone truncates to 1
        ((2**31,), "x int"),
        (("1",), "x int"),
        ((1, 2), "x int"),  # wrong width
    ],
)
def test_values_that_create_data_frame_rejects_raise(spark, row, ddl):
    with pytest.raises((TypeError, ValueError)):
        local_rows(spark, [row], ddl)


def test_rows_must_be_plain_tuples(spark):
    with pytest.raises(TypeError, match="plain tuples"):
        local_rows(spark, [{"x": 1}], "x int")


def _create_data_frame_calls(source: str) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every ``….createDataFrame(…)`` call."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if (
                isinstance(child, ast.Call)
                and getattr(child.func, "attr", getattr(child.func, "id", None)) == "createDataFrame"
            ):
                out.append((child.lineno, fn))
            visit(child, name)

    visit(ast.parse(source), None)
    return out


def test_create_data_frame_detector_flags_the_call():
    source = '''
"""spark.createDataFrame(rows) in a docstring is prose."""
a = spark.createDataFrame([(1,)], "x int")
def f(s):
    return s.sparkSession.createDataFrame(
        rows, "x int"
    )
ok = local_rows(spark, [(1,)], "x int")
'''
    assert _create_data_frame_calls(source) == [(3, None), (5, "f")]


def test_local_rows_is_the_only_create_data_frame_site():
    sites = []
    for py in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        with open(py) as f:
            for line, fn in _create_data_frame_calls(f.read()):
                sites.append((os.path.relpath(py, PKG), fn))
    assert sites == [("sources/catalog.py", "local_rows")], (
        f"createDataFrame outside catalog.local_rows, build driver-side rows with it: {sites}"
    )
