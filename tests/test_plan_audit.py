"""Global plan audit (SURVEY.md §4, round-2): EVERY lazily-buildable
registry key's physical plan is swept for the two antipatterns that kill
100-TB jobs outright —

- ``CartesianProduct``: an unbroadcast cross product (both sides
  fact-sized). Broadcast nested-loop joins are fine and show up as
  BroadcastNestedLoopJoin; CartesianProduct means the optimizer found NO
  small side — always a bug in this engine's designs.
- ``BatchEvalPython``: a row-at-a-time Python UDF on the hot path. The
  engine's rule is Arrow (ArrowEvalPython / MapInPandas) or JVM; the one
  deliberate exception is the legacy-UDF compatibility key.

Keys whose build step runs eager work (ML fits, file-writing roundtrips,
iterative graph actions, streaming) are skipped here — their plans are
asserted individually in test_plans.py / exercised in their own suites;
this sweep is the cheap lazy-plan dragnet over everything else.
"""

from __future__ import annotations

import json
import os

import pytest

from classification_problem_with_pyspark_spark.plans.explain import formatted_plan
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from tests.conftest import SF_DIR

load_all_modules()

WORKLOADS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "workloads.json"
)

# build step is eager (fits/writes/actions) — not lazily explainable
_SKIP_PREFIXES = ("ml_", "source_", "sink_", "graph_", "stream_foreach")
_SKIP_KEYS = {
    "llm_dedup_minhash",       # MinHashLSH fit at build
    "llm_similarity_lsh",      # BRP-LSH fit at build
    "llm_similarity_ivf",      # KMeans fit at build
    "llm_similarity_topk_sharded",  # KMeans fit at build
    "llm_dedup_cluster_cc",    # iterative min-label rounds with actions
    "llm_dedup_pipeline_exact",  # candidate gen + CC rounds run at build
    "llm_dedup_survivor_quality",  # builds on cluster_cc's CC rounds
    "llm_lsh_recall_report",   # counts truth/candidate sets at build
    "merge_upsert",            # stages a delta write at build
    "merge_incremental_agg",   # stages a partition write at build
}

# deliberate row-at-a-time Python: the legacy-UDF surface keys
_ROW_UDF_OK = {"udf_row_legacy", "udtf_python_lateral"}


def _auditable(names):
    for name in sorted(names):
        if name.startswith(_SKIP_PREFIXES) or name in _SKIP_KEYS:
            continue
        yield name


def _assert_no_scale_antipatterns(spark, names):
    cartesian, row_udf = [], []
    for name in _auditable(names):
        plan = formatted_plan(QUERIES[name].fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BatchEvalPython" in plan and name not in _ROW_UDF_OK:
            row_udf.append(name)
    assert not cartesian, f"unbroadcast cross products in: {cartesian}"
    assert not row_udf, f"row-at-a-time Python UDFs in: {row_udf}"


@pytest.mark.slow
def test_no_scale_antipatterns_anywhere(spark):
    # one sweep, both checks — building ~180 plans dominates the cost
    _assert_no_scale_antipatterns(spark, QUERIES)


def test_no_scale_antipatterns_in_benchmark_ops(spark):
    # always-on slice of the sweep: the benchmark's timed ops
    with open(WORKLOADS) as f:
        workloads = json.load(f)["workloads"]
    ops = {op for w in workloads.values() for op in w["ops"]}
    assert list(_auditable(ops)), "no lazily auditable op in workloads.json"
    _assert_no_scale_antipatterns(spark, ops)
