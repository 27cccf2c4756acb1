"""Scan every registered oracle's DuckDB relation types for driver-hash
hazards (VERDICT r2 "What's wrong #1").

DuckDB promotes SUM(<integer>) to HUGEINT (int128); the driver's value-hash
is type-sensitive while tests/parity.py fetches Python values where HUGEINT
and BIGINT both become ``int`` — an invisible-locally, red-at-the-driver
class. This script types every oracle WITHOUT executing it
(``con.sql(sql).types`` is lazy) and reports:

  - HUGEINT anywhere              -> HARD error (cast to BIGINT in the SQL)
  - Spark-vs-oracle type drift    -> per-column compare against the Spark
                                     schema (int-family vs float-family vs
                                     decimal vs string...)

Usage: python scripts/oracle_typecheck.py [--spark]   (--spark adds the
Spark-schema cross-check; without it only the HUGEINT scan runs, no JVM).
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)
SF_DIR = "/root/testdata/sf0.01"

# DuckDB type id -> comparison family (must match Spark family below).
_DUCK_FAMILY = {
    "TINYINT": "int",
    "SMALLINT": "int",
    "INTEGER": "int",
    "BIGINT": "int",
    "UTINYINT": "int",
    "USMALLINT": "int",
    "UINTEGER": "int",
    "UBIGINT": "int",
    "HUGEINT": "HUGEINT",  # never allowed
    "FLOAT": "float",
    "DOUBLE": "float",
    "BOOLEAN": "bool",
    "VARCHAR": "str",
    "DATE": "date",
    "TIMESTAMP": "ts",
    "TIMESTAMP WITH TIME ZONE": "ts",
    "BLOB": "bin",
}

_SPARK_FAMILY = {
    "byte": "int",
    "short": "int",
    "int": "int",
    "integer": "int",
    "long": "int",
    "bigint": "int",
    "float": "float",
    "double": "float",
    "boolean": "bool",
    "string": "str",
    "date": "date",
    "timestamp": "ts",
    "timestamp_ntz": "ts",
    "binary": "bin",
}


def duck_family(t) -> str:
    s = str(t)
    if s.startswith("DECIMAL"):
        return "decimal"
    if s.endswith("[]"):
        return "array<" + duck_family_str(s[:-2]) + ">"
    return _DUCK_FAMILY.get(s, s)


def duck_family_str(s: str) -> str:
    if s.startswith("DECIMAL"):
        return "decimal"
    return _DUCK_FAMILY.get(s, s)


def spark_family(t) -> str:
    s = t.simpleString()
    if s.startswith("decimal"):
        return "decimal"
    if s.startswith("array<"):
        inner = s[len("array<"):-1]
        return "array<" + _SPARK_FAMILY.get(inner, inner) + ">"
    return _SPARK_FAMILY.get(s, s)


def main() -> int:
    with_spark = "--spark" in sys.argv
    only = {a for a in sys.argv[1:] if not a.startswith("--")}
    load_all_modules()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    spark = None
    if with_spark:
        from classification_problem_with_pyspark_spark.session import get_spark

        spark = get_spark(app_name="oracle-typecheck")

    bad: list[str] = []
    n = 0
    for name, q in sorted(QUERIES.items()):
        if q.oracle is None or (only and name not in only):
            continue
        n += 1
        try:
            rel = con.sql(q.oracle)
            otypes = {c: duck_family(t) for c, t in zip(rel.columns, rel.types)}
        except Exception as e:
            bad.append(f"{name}: ORACLE TYPING FAILED: {e}")
            continue
        hug = [c for c, f in otypes.items() if "HUGEINT" in f]
        if hug:
            bad.append(f"{name}: HUGEINT columns {hug}")
        if spark is not None:
            try:
                df = q.fn(spark, SF_DIR)
                stypes = {f.name: spark_family(f.dataType) for f in df.schema.fields}
            except Exception as e:
                bad.append(f"{name}: SPARK PLAN FAILED: {e}")
                continue
            drift = {
                c: (stypes.get(c), otypes.get(c))
                for c in set(stypes) | set(otypes)
                if stypes.get(c) != otypes.get(c)
            }
            if drift:
                bad.append(f"{name}: TYPE DRIFT {drift}")
    print(f"scanned {n} oracles; {len(bad)} problems")
    for b in bad:
        print(" ", b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
