"""Scale-posture helpers (SURVEY.md §7.6): bucketed co-located joins elide
the shuffle; salted joins split pathological key skew without changing
results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.operators.joins import salted_join
from classification_problem_with_pyspark_spark.plans.explain import formatted_plan
from classification_problem_with_pyspark_spark.sources.catalog import load, write_bucketed
from tests.conftest import SF_DIR_SMOKE


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    write_bucketed(
        load(spark, SF_DIR_SMOKE, "customer"),
        "bkt_customer",
        ("c_custkey",),
        num_buckets=8,
        sort_cols=("c_custkey",),
    )
    write_bucketed(
        load(spark, SF_DIR_SMOKE, "orders"),
        "bkt_orders",
        ("o_custkey",),
        num_buckets=8,
        sort_cols=("o_custkey",),
    )
    yield
    spark.sql("DROP TABLE IF EXISTS bkt_customer")
    spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    c = spark.table("bkt_customer")
    o = spark.table("bkt_orders")
    # merge hint forces SMJ so the broadcast path can't mask bucketing;
    # matching bucket spec on both sides → zero Exchange in the plan.
    joined = c.hint("merge").join(o, c.c_custkey == o.o_custkey)
    plan = formatted_plan(joined)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    # and the pre-sorted buckets also satisfy the SMJ sort requirement
    n_plain = (
        load(spark, SF_DIR_SMOKE, "customer")
        .join(load(spark, SF_DIR_SMOKE, "orders"), F.col("c_custkey") == F.col("o_custkey"))
        .count()
    )
    assert joined.count() == n_plain


def test_salted_join_matches_plain_join(spark):
    li = load(spark, SF_DIR_SMOKE, "lineitem")
    # 3-value key = pathological skew
    dim = spark.createDataFrame(
        [("A", "returned"), ("N", "kept"), ("R", "refunded")], ["l_returnflag", "label"]
    )
    salted = salted_join(li, dim, "l_returnflag", unique_col="l_orderkey", salt_n=8)
    plain = li.join(dim, "l_returnflag")
    assert salted.count() == plain.count()
    a = {r.l_returnflag: r.cnt for r in salted.groupBy("l_returnflag").agg(F.count("*").alias("cnt")).collect()}
    b = {r.l_returnflag: r.cnt for r in plain.groupBy("l_returnflag").agg(F.count("*").alias("cnt")).collect()}
    assert a == b


def test_salted_aggregate_matches_plain(spark):
    from classification_problem_with_pyspark_spark.operators.aggregates import salted_aggregate

    li = load(spark, SF_DIR_SMOKE, "lineitem")
    got = {
        r.l_returnflag: (r.row_cnt, round(r.value_sum, 2))
        for r in salted_aggregate(li, "l_returnflag", "l_quantity").collect()
    }
    want = {
        r.l_returnflag: (r.cnt, round(r.s, 2))
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    assert got == want


def test_hll_merged_estimate_near_exact(spark):
    from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules

    load_all_modules()
    rows = QUERIES["agg_hll_sketch_mergeable"].fn(spark, SF_DIR_SMOKE).collect()
    merged = [r for r in rows if r.event_type == "ALL_MERGED"][0]
    exact = (
        load(spark, SF_DIR_SMOKE, "events").select("user_id").distinct().count()
    )
    assert abs(merged.distinct_users - exact) / exact < 0.02
    assert merged.event_cnt == load(spark, SF_DIR_SMOKE, "events").count()


def test_approx_percentile_within_sketch_bound(spark):
    """agg_percentiles_approx (rows-only for the driver) must land within
    the GK sketch's accuracy bound of the exact percentiles."""
    from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
    from tests.conftest import SF_DIR

    load_all_modules()
    approx = {
        r.l_returnflag: r
        for r in QUERIES["agg_percentiles_approx"].fn(spark, SF_DIR).collect()
    }
    exact = {
        r.l_returnflag: r for r in QUERIES["agg_percentiles"].fn(spark, SF_DIR).collect()
    }
    assert approx.keys() == exact.keys()
    for flag, e in exact.items():
        a = approx[flag]
        for acol, ecol in [
            ("qty_median_approx", "qty_median"),
            ("qty_p90_approx", "qty_p90"),
            ("price_median_approx", "price_median"),
        ]:
            av, ev = getattr(a, acol), getattr(e, ecol)
            assert abs(av - ev) / max(abs(ev), 1e-9) < 0.05, (flag, acol, av, ev)


def test_min_label_components_matches_union_find(spark):
    """Property test: min-label propagation CC equals a Python union-find
    on seeded random graphs, singletons included; a chain longer than the
    round cap raises instead of returning partial labels."""
    import random

    from classification_problem_with_pyspark_spark.plans.components import min_label_components

    def union_find(n_nodes, edge_list):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min node per component
        comp_min = {}
        for v in range(n_nodes):
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        return {v: comp_min[find(v)] for v in range(n_nodes)}

    def components(n_nodes, edge_list, max_rounds):
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        ids = spark.range(n_nodes)
        labels = min_label_components(edges, ids, max_rounds, "probe")
        return {r.id: r.label for r in labels.collect()}

    rng = random.Random(42)
    cases = [
        [(i + 1, i) for i in range(0, 12)],                        # a chain, either orientation
        [(rng.randrange(200), rng.randrange(200)) for _ in range(150)],
        [(rng.randrange(300), rng.randrange(300)) for _ in range(80)],  # many singletons
    ]
    for edge_list in cases:
        edge_list = [(a, b) for a, b in edge_list if a != b]
        n_nodes = max(max(a, b) for a, b in edge_list) + 1
        assert components(n_nodes, edge_list, 40) == union_find(n_nodes, edge_list)

    with pytest.raises(RuntimeError, match="probe: connected components did not converge within 5"):
        components(13, cases[0], 5)


def test_incremental_merge_equals_full_recompute(spark):
    """merge_incremental_agg's base+delta composition must equal one
    aggregation over the whole table (algebraic-aggregate property)."""
    from pyspark.sql import functions as F

    from classification_problem_with_pyspark_spark.registry import QUERIES
    from classification_problem_with_pyspark_spark.sources.catalog import load
    from tests.conftest import SF_DIR

    merged = {
        r.event_type: (r.n_total, r.value_total)
        for r in QUERIES["merge_incremental_agg"].fn(spark, SF_DIR).collect()
    }
    full = {
        r.event_type: (r.n, r.v)
        for r in load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"),
        )
        .collect()
    }
    assert merged == full


def test_kcore_matches_python_peeling(spark):
    """graph_kcore (DataFrame iterative peeling) must equal a plain
    Python peeling of the same co-purchase graph at sf0.001."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from classification_problem_with_pyspark_spark.operators.extended5 import (
        _copurchase_edges,
    )
    from classification_problem_with_pyspark_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    edges = {
        (r.p1, r.p2)
        for r in _copurchase_edges(spark, sf).collect()
    }

    def peel(es, k):
        es = set(es)
        while True:
            deg = defaultdict(int)
            for u, v in es:
                deg[u] += 1
                deg[v] += 1
            kept = {(u, v) for u, v in es if deg[u] >= k and deg[v] >= k}
            if kept == es:
                return es
            es = kept

    expected = {}
    core = edges
    for k in range(2, 7):
        core = peel(core, k)
        nodes = {u for u, _ in core} | {v for _, v in core}
        expected[k] = (len(nodes), len(core))

    got = {
        r.k: (r.n_core_nodes, r.n_core_edges)
        for r in QUERIES["graph_kcore"].fn(spark, sf).collect()
    }
    assert got == expected


def test_compression_quality_deterministic_and_correct(spark):
    """llm_compression_quality must be run-to-run deterministic and match
    direct zlib on a sample of documents."""
    import zlib

    from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
    from classification_problem_with_pyspark_spark.sources.catalog import load

    load_all_modules()
    sf = "/root/testdata/sf0.001"
    fn = QUERIES["llm_compression_quality"].fn
    run1 = {r.doc_id: (r.raw_bytes, r.compressed_bytes) for r in fn(spark, sf).collect()}
    run2 = {r.doc_id: (r.raw_bytes, r.compressed_bytes) for r in fn(spark, sf).collect()}
    assert run1 == run2 and len(run1) == 500

    sample = load(spark, sf, "documents").where("doc_id < 20").collect()
    for row in sample:
        raw = row.text.encode("utf-8")
        assert run1[row.doc_id] == (len(raw), len(zlib.compress(raw, 6)))


def test_label_propagation_matches_python(spark):
    """graph_label_propagation must equal a plain Python synchronous LPA
    (most-frequent neighbor label, smallest-label tie-break) at sf0.001."""
    from collections import Counter, defaultdict

    from classification_problem_with_pyspark_spark.operators.extended5 import (
        _copurchase_edges_min2,
    )
    from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules

    load_all_modules()
    sf = "/root/testdata/sf0.001"
    edges = [(r.p1, r.p2) for r in _copurchase_edges_min2(spark, sf).collect()]
    adj = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    labels = {n: n for n in adj}
    for _ in range(5):
        new = {}
        for n in adj:
            cnt = Counter(labels[m] for m in adj[n])
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        labels = new
    sizes = Counter(Counter(labels.values()).values())

    got = {
        r.community_size: r.n_communities
        for r in QUERIES["graph_label_propagation"].fn(spark, sf).collect()
    }
    assert got == dict(sizes)


def test_freq_items_is_superset_of_true_heavy_hitters(spark):
    """agg_freq_items (KSP single-pass): guaranteed SUPERSET of items with
    true frequency >= support (10%) — verify against exact counts."""
    from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
    from tests.conftest import SF_DIR

    load_all_modules()

    got = {
        (r.column, r.item)
        for r in QUERIES["agg_freq_items"].fn(spark, SF_DIR).collect()
    }
    o = load(spark, SF_DIR, "orders")
    n = o.count()
    for col in ("o_orderpriority", "o_orderstatus"):
        exact = (
            o.groupBy(col).agg(F.count("*").alias("c")).collect()
        )
        for r in exact:
            if r.c / n >= 0.1:
                assert (col, r[col]) in got, (col, r[col], r.c / n)


def test_decode_stub_deterministic_and_typed(spark):
    """multimodal_decode_stub: the Arrow binary-batch path must be
    deterministic (fake decode is a pure function of bytes) and emit the
    declared typed schema — with the sampled-frame/resize outputs as
    harness-hashable strings, never top-level arrays."""
    from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules

    load_all_modules()

    df = QUERIES["multimodal_decode_stub"].fn(spark, SF_DIR_SMOKE)
    assert [f.simpleString() for f in df.schema.fields] == [
        "media_id:bigint",
        "byte_len:int",
        "byte_mean:double",
        "byte_max:int",
        "frame_sample:string",
        "resized_16:string",
    ]
    a = {r.media_id: (r.byte_len, r.byte_mean, r.resized_16) for r in df.collect()}
    b = {
        r.media_id: (r.byte_len, r.byte_mean, r.resized_16)
        for r in QUERIES["multimodal_decode_stub"].fn(spark, SF_DIR_SMOKE).collect()
    }
    assert a == b and a
    for blen, bmean, r16 in a.values():
        vals = [float(x) for x in r16.split(" ")]
        assert blen > 0 and 0 <= bmean <= 255 and len(vals) == 16
        assert all(0 <= v <= 255 for v in vals)
