"""Query registry: the single source of truth behind ``__spark_entry__.py``.

Every operator module registers its query keys here with:
- ``fn``:      ``(spark, sf_dir) -> DataFrame`` (pure, lazy, no collect)
- ``oracle``:  equivalent DuckDB-runnable ANSI SQL, or ``None`` for
               genuinely non-SQL-expressible ops (ML training, LSH, approx
               sketches, streaming state) — those get the driver's weaker
               rows-only check (SURVEY.md §2, §7.4).

Contract invariants enforced by convention here (SURVEY.md §7.5):
- every computed/aggregate column is aliased identically in fn and oracle;
- doubles produced by order-sensitive float aggregation are rounded
  in-query on BOTH sides so values are bit-identical;
- timestamps in outputs are formatted to strings on BOTH sides.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register ``fn`` under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_all_modules() -> None:
    """Import every module of the ``operators`` and ``functions`` packages,
    in sorted name order, so their ``@register`` side effects run."""
    from classification_problem_with_pyspark_spark import functions, operators

    for pkg in (operators, functions):
        for mod in sorted(m.name for m in pkgutil.iter_modules(pkg.__path__)):
            importlib.import_module(f"{pkg.__name__}.{mod}")


def get_queries() -> dict[str, QueryFn]:
    load_all_modules()
    return {name: q.fn for name, q in QUERIES.items()}


def get_oracles() -> dict[str, str]:
    load_all_modules()
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
