"""Semantic property tests for extension pack 84 (extended84.py)."""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.extended84 import (
    PAGE_SIZE,
    VOTE_MAJ,
    VOTE_N,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_cursor_chain_reassembles_cleanly(spark):
    df = QUERIES["source_cursor_chain_reassembly"].fn(spark, SF_DIR)
    rows = sorted(df.collect(), key=lambda r: r.page_no)
    nat = sorted(
        (r.n_nationkey, r.n_name) for r in load(spark, SF_DIR, "nation").collect()
    )
    pages = [nat[i : i + PAGE_SIZE] for i in range(0, len(nat), PAGE_SIZE)]
    assert len(rows) == len(pages)
    for r, page in zip(rows, pages):
        assert r.n_records == len(page)
        assert r.key_sum == sum(k for k, _ in page)
        assert r.chain_ok
        assert r.is_head == (r.page_no == 0)
        assert r.is_tail == (r.page_no == len(pages) - 1)
    # the staged export is genuinely cursor-linked JSON (not name-ordered)
    stage = staged_dir(df, "cursor_pages")
    docs = [json.load(open(p)) for p in glob.glob(os.path.join(stage, "*.json"))]
    cursors = {d["cursor"] for d in docs}
    nexts = [d["next_cursor"] for d in docs]
    assert sum(1 for n in nexts if n is None) == 1  # exactly one tail
    assert all(n in cursors for n in nexts if n is not None)  # no orphans
    heads = cursors - {n for n in nexts if n is not None}
    assert len(heads) == 1  # exactly one head


def test_self_consistency_matches_python_votes(spark):
    rows = {r.source: r for r in QUERIES["llm_self_consistency_vote"].fn(spark, SF_DIR).collect()}
    docs = load(spark, SF_DIR, "documents").select("doc_id", "source").collect()
    agg = defaultdict(lambda: [0, 0, 0])
    for d in docs:
        diff = 20 + _h(f"diff_{d.doc_id}") % 60
        oks = [
            1 if _h(f"pass_{d.doc_id}_{i}") % 100 < diff else 0
            for i in range(VOTE_N)
        ]
        a = agg[d.source]
        a[0] += 1
        a[1] += oks[0]
        a[2] += 1 if sum(oks) >= VOTE_MAJ else 0
    assert set(rows) == set(agg)
    for src, (n, single, vote) in agg.items():
        r = rows[src]
        assert (r.n_tasks, r.single_sample_correct, r.majority_correct) == (
            n,
            single,
            vote,
        )
        assert r.single_acc_micro == 1_000_000 * single // n
        assert r.vote_acc_micro == 1_000_000 * vote // n
    # the vote sharpens the distribution: per-task majorities are more
    # decisive than single samples in aggregate (same synthetic model as
    # pass@k, so the two keys' numbers reconcile)
    total_single = sum(v[1] for v in agg.values())
    total_vote = sum(v[2] for v in agg.values())
    assert total_vote != total_single  # voting genuinely changes outcomes
