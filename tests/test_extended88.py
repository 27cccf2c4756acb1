"""Semantic property tests for extension pack 88 (extended88.py)."""

from __future__ import annotations

import glob
import hashlib
import os

from classification_problem_with_pyspark_spark.operators.extended88 import (
    TOPK_BOOST,
    TOPK_CLASSES,
    TOPK_K,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_idempotent_reload_counts_twice_loads_once(spark):
    df = QUERIES["source_idempotent_reload_dedup"].fn(spark, SF_DIR)
    rows = df.collect()
    nat = sorted(
        (r.n_nationkey, r.n_name) for r in load(spark, SF_DIR, "nation").collect()
    )
    assert [(r.nation_key, r.name) for r in rows] == nat
    assert all(r.times_seen == 2 for r in rows)  # the retry was real
    assert all(r.times_counted == 1 for r in rows)  # and deduped away
    # the stage genuinely holds two byte-identical files with distinct names
    stage = staged_dir(df, "idempotent_reload")
    files = sorted(glob.glob(os.path.join(stage, "*.csv")))
    assert len(files) == 2
    assert os.path.basename(files[0]) != os.path.basename(files[1])
    assert open(files[0], "rb").read() == open(files[1], "rb").read()


def test_topk_accuracy_matches_python_ranks(spark):
    row = QUERIES["ml_topk_accuracy_exact"].fn(spark, SF_DIR).collect()[0]
    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    top1 = topk = 0
    for e in emb:
        scores = []
        for c in range(TOPK_CLASSES):
            s = _h(f"tk_{e.vec_id}_{c}") % 1000 + (TOPK_BOOST if c == e.label else 0)
            scores.append((-s, c))
        order = [c for _, c in sorted(scores)]
        if order[0] == e.label:
            top1 += 1
        if e.label in order[:TOPK_K]:
            topk += 1
    assert (row.n, row.top1_correct, row.topk_correct) == (len(emb), top1, topk)
    assert row.top1_acc_micro == 1_000_000 * top1 // len(emb)
    assert row.topk_acc_micro == 1_000_000 * topk // len(emb)
    # the eval's whole point: top-k strictly dominates top-1, and the
    # boosted stand-in sits between chance and perfection on both
    assert row.topk_acc_micro > row.top1_acc_micro
    assert 100_000 < row.top1_acc_micro < 900_000
