"""SparkSession factory with configs pinned for differential testing + scale.

SURVEY.md §4 (physical-execution posture) and §7.5 (pitfalls):
- session timezone UTC on both engines or timestamp hashes diverge;
- AQE on (runtime join re-planning, skew splitting) — the 100-TB posture;
- one core count sizes the session: ``SPARK_GRAFT_CPUS``, or the cores
  this process may run on. It gives ``local[N]`` and, unless the caller
  passes ``shuffle_partitions``, the shuffle partition count. Operators
  size their pre-fan-out spread from the session's default parallelism
  (``plans/fanout.py``), which ``local[N]`` sets to N.
  ``SPARK_GRAFT_MASTER`` and ``SPARK_GRAFT_DRIVER_MEM`` override the
  master and the driver heap (default: ``driver_memory()``);
- Python workers need no path to the engine on this session or any
  other: the package pickles its own code by value (``__init__.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def driver_memory() -> str:
    """The driver heap: ``SPARK_GRAFT_DRIVER_MEM``, else 16g or half of
    this machine's memory, whichever is less.

    16g on the 128 GiB test box: 8g showed multi-second full-GC stalls on
    random queries during 145-query bench sweeps (one long-lived JVM
    accumulates codegen classes + block-manager state). Half the machine
    leaves the Python side and the OS room on a smaller one; on a real
    cluster size per executor instead."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(16 * 1024, total_kb // 1024 // 2)}m"


def get_spark(
    app_name: str = "classification_problem_with_pyspark_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    All engine configs are safe defaults for local[N]; on a real cluster the
    same code runs unchanged — partitioning choices live in the operators,
    not here.
    """
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{DEFAULT_CPUS}]")
    parts = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Differential-testing invariant: both Spark and the DuckDB oracle
        # must interpret naive timestamps identically (SURVEY.md §7.5).
        .config("spark.sql.session.timeZone", "UTC")
        # 100-TB posture: adaptive execution re-plans joins + splits skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(parts))
        # Arrow for any pandas_udf / applyInPandas boundary (SURVEY.md §3 EP3).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
    return builder.getOrCreate()
