"""Semantic property tests for extension pack 60 (extended60.py)."""

from __future__ import annotations

from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.llm_text import PREFIX_TOKENS
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_prefix_cache_savings_match_python_groups(spark):
    rows = {r.source: r for r in QUERIES["llm_prefix_cache_savings"].fn(spark, SF_DIR).collect()}
    docs = load(spark, SF_DIR, "documents").select("source", "text").collect()
    groups = defaultdict(lambda: defaultdict(lambda: [0, 0, 0]))
    for d in docs:
        ws = d.text.split(" ")
        plen = min(len(ws), PREFIX_TOKENS)
        key = " ".join(ws[:plen])
        g = groups[d.source][(key, plen)]
        g[0] += 1
        g[1] += len(ws)
        g[2] = plen
    assert set(rows) == set(groups)
    for src, gs in groups.items():
        r = rows[src]
        n_docs = sum(v[0] for v in gs.values())
        total = sum(v[1] for v in gs.values())
        shared = sum(v[0] for v in gs.values() if v[0] > 1)
        cached = sum((v[0] - 1) * v[2] for v in gs.values())
        assert (r.n_prefix_groups, r.n_docs) == (len(gs), n_docs)
        assert (r.docs_in_shared_groups, r.total_tokens) == (shared, total)
        assert r.cached_tokens == cached
        assert r.cache_hit_mass_micro == 1_000_000 * cached // total
        assert r.cached_tokens < r.total_tokens
    # the corpus genuinely contains shared prefixes (duplicate docs exist)
    assert any(r.docs_in_shared_groups > 0 for r in rows.values())


def test_distinct_on_picks_the_argmax_row_per_user(spark):
    rows = {r.user_id: r for r in QUERIES["relational_distinct_on"].fn(spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").select("user_id", "event_id", "event_type", "value").collect()
    best = {}
    for e in ev:
        key = (-e.value, e.event_id)
        if e.user_id not in best or key < best[e.user_id][0]:
            best[e.user_id] = (key, e)
    assert set(rows) == set(best)
    for uid, (_, e) in best.items():
        r = rows[uid]
        assert r.event_id == e.event_id
        assert r.event_type == e.event_type
        assert r.cents == round(e.value * 100)
    # exactly one row per user — the DISTINCT ON contract
    assert len(rows) == len({e.user_id for e in ev})
