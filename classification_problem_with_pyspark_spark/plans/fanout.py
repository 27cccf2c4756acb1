"""The engine's one spread before a fan-out (SURVEY.md §7.6).

Each table is one parquet file, so its scan runs as one task, and an
explode, shingle or N² loop straight off that scan does all its per-row
work in that task. ``spread`` repartitions first, so the heavy stage
runs across the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, *cols) -> DataFrame:
    """``df`` hash-partitioned on ``cols`` (round-robin when none are given)
    into the session's ``defaultParallelism`` partitions: one per core. A
    fixed count over-splits a small machine into tasks that cost more to
    schedule than to run, and under-splits a large one."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *cols)
