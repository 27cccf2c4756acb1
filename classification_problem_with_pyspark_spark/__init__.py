"""classification_problem_with_pyspark_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of the
reference repo ``IsmailHaris/Classification-problem-with-PySpark`` (a PySpark
MLlib classification workflow), extended with the LLM-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis)
mandated by BASELINE.json.

NOTE ON CITATIONS: ``/root/reference/`` was verified EMPTY this round
(see SURVEY.md §0), so docstrings cite SURVEY.md sections (the blueprint)
instead of reference file:line — there are no reference files to cite.

Architecture (SURVEY.md §7.7, adapted to the mandated layout):

- ``session``            SparkSession factory with pinned configs (UTC, AQE).
- ``registry``           the query registry: every operator registers a
                         ``(spark, sf_dir) -> DataFrame`` callable plus an
                         optional DuckDB-oracle SQL string.
- ``sources/``           explicit schemas + parquet/CSV/memory/stream readers;
                         ``catalog.local_rows`` builds every relation made
                         from Python rows, as a LocalRelation.
- ``operators/``         relational, joins, aggregates, windows, set ops,
                         ML, LLM-pipeline operators.
- ``functions/``         scalar/vector expression helpers, the portable md5
                         hash (``hashing``), the word n-gram builder
                         (``text``) and the numpy kernels the embedding
                         keys run in Python workers (``embedding_kernels``).
- ``streaming/``         Structured Streaming wrappers over the batch twins.
- ``plans/``             shared plan shapes: the pre-fan-out ``spread``,
                         bounded-grid and global-rank windows, connected
                         components; plan-inspection asserts (``explain``).

Every operator is a pure function of ``(spark, sf_dir)`` returning a lazy
DataFrame; nothing collects on the driver (SURVEY.md §7.6 100-TB rules).
"""

import sys

from pyspark import cloudpickle

from classification_problem_with_pyspark_spark.registry import QUERIES, get_queries, get_oracles

# Package code a job ships (UDFs, UDTFs, data sources, worker kernels)
# travels by value, so Python workers need not be able to import it.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def list_queries() -> list[str]:
    """Names of every registered operator (SURVEY.md §2 inventory)."""
    return sorted(get_queries())


def run_query(name: str, spark=None, sf_dir: str = "/root/testdata/sf0.01"):
    """Library entry point: run one registered operator by name.

    Builds the engine session (UTC, AQE, Arrow) if none is supplied and
    returns the LAZY result DataFrame — callers choose the action.
    """
    fns = get_queries()
    if name not in fns:
        raise KeyError(f"unknown query {name!r}; see list_queries()")
    if spark is None:
        from classification_problem_with_pyspark_spark.session import get_spark

        spark = get_spark()
    return fns[name](spark, sf_dir)


__all__ = ["QUERIES", "get_queries", "get_oracles", "list_queries", "run_query"]
