"""Shared fixtures: one warm SparkSession + DuckDB oracle connection.

BASELINE.md implication: Spark cold start is ~11 s — reuse ONE session
across the whole test run or the suite is unusable.
"""

from __future__ import annotations

import os
import sys
from urllib.parse import urlparse

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from classification_problem_with_pyspark_spark.session import get_spark
from classification_problem_with_pyspark_spark.sources.catalog import TABLES, TMP_DIR

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMOKE = "/root/testdata/sf0.001"


def staged_dir(df, kind: str) -> str:
    """The ``stage_dir(kind)`` directory an op staged its files in, found
    from the files its returned DataFrame reads: ``TMP_DIR/<process
    root>/<kind>_<suffix>``."""
    dirs = set()
    for f in df.inputFiles():
        rel = os.path.relpath(urlparse(f).path, TMP_DIR).split(os.sep)
        if rel[0] != ".." and len(rel) > 2 and rel[1].startswith(f"{kind}_"):
            dirs.add(os.path.join(TMP_DIR, rel[0], rel[1]))
    assert len(dirs) == 1, (kind, df.inputFiles())
    return dirs.pop()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
