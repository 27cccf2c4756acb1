"""Output checks, run once per run outside the timed loop.

Ops with an oracle are compared with DuckDB over the same generated tables
through the engine's own differential checker (``tests/parity.py``,
imported read-only). Rows-only ops are checked against the row counts and
metric ranges recorded in ``workloads.json``.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

TABLES = (
    "region nation supplier customer part orders lineitem events documents embeddings"
).split()


def _parity(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(root, "tests", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Checker:
    def __init__(self, root: str, data_dir: str, rows_only: dict) -> None:
        self.compare = _parity(root).compare
        self.rows_only = rows_only
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, query, df) -> tuple[bool, str]:
        """(ok, message) for one op's output DataFrame."""
        if query.oracle is not None:
            return self.compare(name, df, query.oracle, self.con)
        spec = self.rows_only.get(name)
        if spec is None:
            return False, f"{name}: no oracle and no rows-only check recorded"
        rows = df.collect()
        if len(rows) != spec["rows"]:
            return False, f"{name}: {len(rows)} rows, expected {spec['rows']}"
        for col, lohi in spec["ranges"].items():
            got = [r[spec["value"]] for r in rows if r[spec["key"]] == col]
            if len(got) != 1 or not lohi[0] <= got[0] <= lohi[1]:
                return False, f"{name}: {col}={got} outside {lohi}"
        return True, f"{name}: {len(rows)} rows in range"
