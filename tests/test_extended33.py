"""Semantic property tests for extension pack 33 (extended33.py)."""

from __future__ import annotations

import collections
import hashlib

import pyspark.sql.functions as F

from classification_problem_with_pyspark_spark.operators.llm_dedup import N_SHARDS
from classification_problem_with_pyspark_spark.operators.llm_text import STYLE_TOP_K
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_price_indices_bracket_each_other(spark):
    rows = QUERIES["agg_price_index"].fn(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_common_parts > 0
    # stable synthetic prices: both indices sit near parity (1.0)
    assert 800_000 < r.laspeyres_micro < 1_200_000
    assert 800_000 < r.paasche_micro < 1_200_000


def test_shard_loss_matches_bruteforce_pairs(spark):
    rows = QUERIES["llm_shard_dedup_loss_audit"].fn(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_shards == N_SHARDS
    from classification_problem_with_pyspark_spark.operators.llm_dedup import cdc_chunks

    chunks = cdc_chunks(spark, SF_DIR).select("doc_id", "chunk_hash").collect()

    def shard(doc_id):
        h = hashlib.md5(f"shard_{doc_id}".encode()).hexdigest()
        return int(h[:15], 16) % N_SHARDS

    by_hash = collections.defaultdict(list)
    for c in chunks:
        by_hash[c.chunk_hash].append(shard(c.doc_id))
    total = within = 0
    for shards in by_hash.values():
        n = len(shards)
        if n < 2:
            continue
        total += n * (n - 1) // 2
        cnt = collections.Counter(shards)
        within += sum(v * (v - 1) // 2 for v in cnt.values())
    assert (r.total_pairs, r.within_pairs) == (total, within)
    assert r.cross_pairs == total - within
    assert r.loss_micro == 1_000_000 * (total - within) // total
    # hash-random doc sharding loses most duplicate pairs: ~1 - 1/S
    assert r.loss_micro > 700_000


def test_style_distance_is_a_metric_sample(spark):
    rows = QUERIES["llm_source_style_distance"].fn(spark, SF_DIR).collect()
    d = load(spark, SF_DIR, "documents")
    n_sources = d.select("source").distinct().count()
    assert len(rows) == n_sources * (n_sources - 1) // 2
    dist = {}
    for r in rows:
        assert r.source_a < r.source_b
        assert r.l1_micro >= 0
        dist[(r.source_a, r.source_b)] = r.l1_micro

    def dd(a, b):
        return dist[(a, b)] if (a, b) in dist else dist[(b, a)]

    # spot-check triangle inequality on a handful of source triples
    srcs = sorted({r.source_a for r in rows} | {r.source_b for r in rows})
    for a, b, c in zip(srcs, srcs[1:], srcs[2:]):
        assert dd(a, c) <= dd(a, b) + dd(b, c)
    # same-generator sources: profiles close but not identical everywhere
    assert any(v > 0 for v in dist.values())


def test_style_profile_totals(spark):
    # profile frequencies must be consistent with raw counts for one source
    d = load(spark, SF_DIR, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    vocab = [
        r.tok
        for r in toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(STYLE_TOP_K)
        .collect()
    ]
    assert len(vocab) == STYLE_TOP_K
