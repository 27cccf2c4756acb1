"""Semantic property tests for extension pack 64 (extended64.py)."""

from __future__ import annotations

from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.llm_text import CHARS_PER_EXTRA_TOKEN
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_fertility_matches_python_replay(spark):
    rows = {r.lang: r for r in QUERIES["llm_tokenizer_fertility_by_lang"].fn(spark, SF_DIR).collect()}
    docs = load(spark, SF_DIR, "documents").select("lang", "text").collect()
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, words, tokens, chars
    for d in docs:
        ws = [w for w in d.text.split(" ") if w]
        if not ws:
            continue
        a = agg[d.lang]
        a[0] += 1
        a[1] += len(ws)
        a[2] += sum(1 + len(w) // CHARS_PER_EXTRA_TOKEN for w in ws)
        a[3] += sum(len(w) for w in ws)
    assert set(rows) == set(agg)
    for lang, (nd, nw, nt, nc) in agg.items():
        r = rows[lang]
        assert (r.n_docs, r.n_words, r.n_tokens) == (nd, nw, nt)
        assert r.fertility_micro == 1_000_000 * nt // nw
        assert r.chars_per_token_micro == 1_000_000 * nc // nt
        # fertility ≥ 1 token/word by construction of the stand-in
        assert r.fertility_micro >= 1_000_000


def test_missing_heartbeat_grid_matches_python_sets(spark):
    rows = {r.user_id: r for r in QUERIES["events_missing_heartbeat_grid"].fn(spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").select("user_id", "ts").collect()
    obs = defaultdict(set)
    days = set()
    for e in ev:
        d = e.ts.date()
        obs[e.user_id].add(d)
        days.add(d)
    assert set(rows) == set(obs)
    for uid, seen in obs.items():
        r = rows[uid]
        missing = len(days - seen)
        assert r.n_expected_days == len(days)
        assert r.n_missing_days == missing
        assert r.absence_micro == 1_000_000 * missing // len(days)
    # both kinds of finding exist: users with gaps and fully-present users
    assert any(r.n_missing_days > 0 for r in rows.values())
    assert any(r.n_missing_days == 0 for r in rows.values())
    # conservation: presence + absence = the grid
    total_present = sum(len(s) for s in obs.values())
    total_missing = sum(r.n_missing_days for r in rows.values())
    assert total_present + total_missing == len(obs) * len(days)
