"""Semantic property tests for extension pack 25 (extended25.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from classification_problem_with_pyspark_spark.operators.extended25 import K_THRESHOLD
from classification_problem_with_pyspark_spark.operators.llm_dedup import CDC_W
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_k_anonymity_partitions_the_population(spark):
    rows = QUERIES["audit_k_anonymity"].fn(spark, SF_DIR).collect()
    c = load(spark, SF_DIR, "customer")
    # equivalence classes tile the customer table exactly
    assert sum(r.k_size for r in rows) == c.count()
    for r in rows:
        assert r.k_size >= 1
        assert 1 <= r.l_diversity <= 2  # sensitive attr is binary
        assert r.l_diversity <= r.k_size
        assert r.is_reidentifiable == (r.k_size < K_THRESHOLD)
    # the audit must find both risky and safe classes on this QI
    assert any(r.is_reidentifiable for r in rows)
    assert any(not r.is_reidentifiable for r in rows)


def test_cdc_chunks_tile_documents(spark):
    rows = QUERIES["llm_cdc_chunk_dedup"].fn(spark, SF_DIR).collect()
    d = load(spark, SF_DIR, "documents")
    eligible = d.where(F.length("text") >= CDC_W)
    assert len(rows) == eligible.count()
    for r in rows:
        assert r.n_chunks >= 1
        assert 0 <= r.n_dup_chunks <= r.n_chunks
        assert 0 <= r.dup_chars <= r.total_chars
        assert r.dup_micro == 1_000_000 * r.dup_chars // r.total_chars
        # expected chunk length ~CDC_MASK: chunk count is near len/mask
        assert r.n_chunks <= r.total_chars
    # the near-dup corpus must show chunk-level duplication
    assert any(r.n_dup_chunks > 0 for r in rows)


def test_cdc_boundaries_are_content_defined(spark):
    # identical texts chunk identically: docs with dup_micro == 1e6 are
    # fully covered by duplicated chunks, so at least one OTHER doc
    # carries the same chunk multiset somewhere
    rows = QUERIES["llm_cdc_chunk_dedup"].fn(spark, SF_DIR).collect()
    full = [r for r in rows if r.dup_micro == 1_000_000]
    assert len(full) >= 2  # duplicates come in groups


def test_hampel_filter_integer_mechanics(spark):
    rows = QUERIES["window_hampel_filter"].fn(spark, SF_DIR).collect()
    daily = {}
    for r in rows:
        daily.setdefault(r.event_type, []).append(r)
    for series in daily.values():
        history = []
        for r in series:
            history.append(r.n_events)
            win = history[-7:]
            s = sorted(win)
            n = len(s)
            med2 = s[(n + 1) // 2 - 1] + s[n // 2]
            sd = sorted(abs(2 * v - med2) for v in win)
            mad4 = sd[(n + 1) // 2 - 1] + sd[n // 2]
            assert r.med2_7d == med2, (r, med2)
            assert r.mad4_7d == mad4, (r, mad4)
            assert r.is_outlier == (
                2 * abs(2 * r.n_events - med2) > 3 * mad4
            )
    # the synthetic series contains real spikes
    assert any(r.is_outlier for r in rows)
