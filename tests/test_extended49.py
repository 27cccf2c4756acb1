"""Semantic property tests for extension pack 49 (extended49.py)."""

from __future__ import annotations

import hashlib
from collections import defaultdict
from itertools import combinations

from classification_problem_with_pyspark_spark.operators.extended49 import NGRAM_N
from classification_problem_with_pyspark_spark.operators.ml_stats import HASH_BITS
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_source_overlap_matrix_matches_python_sets(spark):
    rows = {(r.source_a, r.source_b): r for r in QUERIES["llm_source_overlap_matrix"].fn(spark, SF_DIR).collect()}
    docs = load(spark, SF_DIR, "documents").select("source", "text").collect()
    sets = defaultdict(set)
    for d in docs:
        ws = d.text.split(" ")
        for i in range(len(ws) - NGRAM_N + 1):
            sets[d.source].add(" ".join(ws[i : i + NGRAM_N]))
    srcs = sorted(sets)
    expected_pairs = {(a, b) for a, b in combinations(srcs, 2)}
    assert set(rows) == expected_pairs
    for (sa, sb), r in rows.items():
        inter = len(sets[sa] & sets[sb])
        assert (r.n_a, r.n_b) == (len(sets[sa]), len(sets[sb]))
        assert r.shared == inter
        union = len(sets[sa]) + len(sets[sb]) - inter
        assert r.jaccard_micro == 1_000_000 * inter // union
        assert r.shared <= min(r.n_a, r.n_b)  # set algebra sanity
    # at least one pair of sources genuinely shares shingles (fixture has dups)
    assert any(r.shared > 0 for r in rows.values())


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
