"""Simulate the grading driver at its real surface.

Loads this checkout's __spark_entry__.py the way the driver does (import by
file path, NOT via the engine's own session factory or test suite), builds
a plain vanilla SparkSession like the task description shows, then:
  1. smoke: entry(spark) at sf0.001 → collect, expect rows >= 0, stable schema
  2. for each queries()[name] at sf0.01: run Spark DF AND oracle_sql()[name]
     via DuckDB views, compare row-count + schema + order-insensitive values
  3. rows-only keys: run + count.

Usage: python scripts/driver_sim.py [key ...]   (no args = all keys)
Env:   DRIVER_SIM_SF_DIR=/root/testdata/sf0.1   (default sf0.01 — the
       driver's grading scale; override for SF-robustness sweeps)
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from parity import compare  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def main() -> int:
    only = set(sys.argv[1:])
    spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    # Deliberately a vanilla session — catches anything our engine silently
    # relies on from its own tuned factory (the driver won't have it).
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    t0 = time.time()
    edf = mod.entry(spark)
    erows = edf.collect()
    print(f"entry(): {len(erows)} rows, schema={edf.columns} ({time.time()-t0:.1f}s)")
    assert len(erows) >= 0

    sf_dir = os.environ.get("DRIVER_SIM_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = mod.queries()
    oracles = mod.oracle_sql()
    n_ok = n_bad = n_rows_only = 0
    failures = []
    timings: dict[str, float] = {}
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                ok, msg = compare(name, df, oracles[name], con)
                if ok:
                    n_ok += 1
                else:
                    n_bad += 1
                    failures.append(msg)
                print(f"  {'OK ' if ok else 'BAD'} {name} ({time.time()-t0:.1f}s)")
            else:
                cnt = df.count()
                n_rows_only += 1
                print(f"  ROWS-ONLY {name}: {cnt} rows ({time.time()-t0:.1f}s)")
        except Exception as e:  # driver would record this as a failure
            n_bad += 1
            failures.append(f"{name}: EXCEPTION {type(e).__name__}: {e}")
            print(f"  ERR {name}: {e}")
        timings[name] = round(time.time() - t0, 2)
    # Per-key sf0.01 wall time record (VERDICT r2 #7: a time-budgeted driver
    # window grades more keys when every key stays cheap — this file is the
    # evidence + regression tripwire). Full sweeps only, so the record is
    # always complete.
    if not only and sf_dir.endswith("sf0.01"):
        import json

        with open(os.path.join(ROOT, "DRIVER_SIM_TIMINGS.json"), "w") as f:
            json.dump(timings, f, indent=1, sort_keys=True)
        slow = {k: v for k, v in timings.items() if v > 3.0}
        if slow:
            print(f"keys over 3 s at sf0.01: {slow}")
    print(f"\nsummary: {n_ok} hash-OK, {n_rows_only} rows-only, {n_bad} failed")
    for f in failures:
        print(" ", f[:500])
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
