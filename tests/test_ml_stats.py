"""Semantic property tests for the statistics and feature-audit keys
(``operators/ml_stats.py``); each replays a key's numbers in Python."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.ml_stats import HASH_BITS
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_feature_hash_collision_audit_matches_python_census(spark):
    row = QUERIES["ml_feature_hash_collision_audit"].fn(spark, SF_DIR).collect()[0]
    docs = load(spark, SF_DIR, "documents").select("text").collect()
    vocab = {t for d in docs for t in d.text.split(" ") if t}
    buckets = defaultdict(int)
    for t in vocab:
        b = int(hashlib.md5(f"fh_{t}".encode()).hexdigest()[:15], 16) % (1 << HASH_BITS)
        buckets[b] += 1
    assert row.n_buckets == 1 << HASH_BITS
    assert row.vocab_size == len(vocab)
    assert row.n_used == len(buckets)
    assert row.n_colliding_buckets == sum(1 for v in buckets.values() if v > 1)
    colliding = sum(v for v in buckets.values() if v > 1)
    assert row.n_colliding_tokens == colliding
    assert row.max_bucket_load == max(buckets.values())
    assert row.collision_mass_micro == 1_000_000 * colliding // len(vocab)
    # the audit is non-trivial at this vocab/bucket ratio (birthday bound)
    assert row.n_colliding_buckets > 0
    assert row.n_used <= row.n_buckets
