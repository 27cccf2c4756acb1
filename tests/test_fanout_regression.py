"""Single-partition fan-out regression tripwire (VERDICT r4 #8).

Each testdata table is ONE parquet file, so any operator that explodes /
shingles / replicates straight off the scan runs its per-row md5 work in
a single task — the class fixed in commit de6aab2 (sf0.1 coverage sweep
525 s → 392 s). The fix is a `spread(df, <row key>)` (plans/fanout.py)
between the scan and the fan-out; this sweep asserts the resulting
`Exchange hashpartitioning(<row key>, ...)` is still in each fixed
operator's physical plan. The check is plan-text (cheap, SF-independent)
because the regression mode is exactly "someone removes the spread
and the plan silently degrades to one task" — re-measured timings live
in BENCH_COVERAGE.json per round.

A second tripwire keeps the spread's size in one place: no operator
repartitions to a literal count.
"""

from __future__ import annotations

import ast
import glob
import os

import pytest

from classification_problem_with_pyspark_spark.plans import fanout
from classification_problem_with_pyspark_spark.plans.explain import formatted_plan
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from tests.conftest import SF_DIR

load_all_modules()

# key → the Exchange partitioning its pre-fan-out repartition must leave
# in the plan: "hashpartitioning(<row key>" for keyed repartitions,
# "roundrobinpartitioning" where the heavy stage is a side-data
# mapInPandas worker spread round-robin (r13: emb_pq_codebook_assign
# joined that family — the llm_similarity_topk pattern).
FIXED_FANOUTS = {
    "llm_retrieval_mrr": "hashpartitioning(qid",
    "emb_srp_signature": "hashpartitioning(vec_id",
    "llm_cdc_chunk_dedup": "hashpartitioning(doc_id",
    "agg_bootstrap_ci_revenue": "hashpartitioning(o_orderkey",
    "emb_pq_codebook_assign": "RoundRobinPartitioning",
    "llm_source_overlap_matrix": "hashpartitioning(doc_id",
    "llm_dedup_threshold_curve": "hashpartitioning(doc_id",
    "llm_rank_fusion_rrf": "hashpartitioning(qid",
}


@pytest.mark.parametrize("key,part", sorted(FIXED_FANOUTS.items()))
def test_fanout_operator_spreads_scan_before_explode(spark, key, part):
    if key == "llm_source_overlap_matrix":
        # r13: the key's own explain stops at the bounded counts
        # checkpoint (LogicalRDD boundary), so assert the repartition on
        # the pre-checkpoint helper the key calls.
        from classification_problem_with_pyspark_spark.operators.llm_dedup import _overlap_counts

        plan = formatted_plan(_overlap_counts(spark, SF_DIR))
    else:
        plan = formatted_plan(QUERIES[key].fn(spark, SF_DIR))
    assert f"Exchange {part}" in plan or part in plan, (
        f"{key}: no Exchange {part}(...) in the plan — "
        f"the pre-fan-out repartition was removed; on single-file testdata "
        f"the heavy per-row stage would run in ONE task (see de6aab2)"
    )


PKG = os.path.dirname(os.path.dirname(os.path.abspath(fanout.__file__)))
SCANNED = ("operators", "functions", "plans", "streaming")
# (module, top-level function) → why its literal count stays
LITERAL_COUNT_ALLOWED = {
    ("operators/sinks.py", "sink_compaction_roundtrip"): (
        "the 64 fragments are the fixture: the key compacts a fragmented "
        "write to 4 files, and tests/test_sources.py asserts fewer files after"
    ),
}


def _literal_repartitions(source: str) -> set[tuple[str, int]]:
    """(top-level function, line) of each ``.repartition(<int literal>, ...)``
    call; calls outside any function report ``<module>``."""
    out = set()
    for top in ast.parse(source).body:
        name = getattr(top, "name", "<module>")
        for n in ast.walk(top):
            if (
                isinstance(n, ast.Call)
                and getattr(n.func, "attr", None) == "repartition"
                and n.args
                and isinstance(n.args[0], ast.Constant)
                and type(n.args[0].value) is int
            ):
                out.add((name, n.lineno))
    return out


def test_literal_repartition_detector_flags_int_counts():
    source = """
def a(df):
    return df.repartition(32, "k")
def b(df):
    x = df.repartition(64)
    y = df.repartition(n, "k")
    z = spread(df, "k")
    w = df.coalesce(4).repartition("k")
    return df.select("k").repartition(
        8
    )
top = df.repartition(4)
"""
    assert _literal_repartitions(source) == {("a", 3), ("b", 5), ("b", 9), ("<module>", 12)}


def test_no_operator_repartitions_to_a_literal_count():
    seen, offenders = set(), []
    for sub in SCANNED:
        for py in sorted(glob.glob(os.path.join(PKG, sub, "**", "*.py"), recursive=True)):
            rel = os.path.relpath(py, PKG)
            with open(py) as f:
                for fn, line in sorted(_literal_repartitions(f.read())):
                    if (rel, fn) in LITERAL_COUNT_ALLOWED:
                        seen.add((rel, fn))
                    else:
                        offenders.append(f"{rel}:{line} ({fn})")
    assert not offenders, f"literal repartition count, use plans.fanout.spread: {offenders}"
    assert seen == set(LITERAL_COUNT_ALLOWED), "an allowance no longer matches its call"
