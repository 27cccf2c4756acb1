"""Semantic property tests for extension pack 63 (extended63.py)."""

from __future__ import annotations

import math
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.extended63 import TAIL_DIV
from classification_problem_with_pyspark_spark.operators.llm_dedup import (
    SHINGLE_N,
    THRESHOLDS_MICRO,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_dedup_threshold_curve_matches_python_sets(spark):
    rows = {r.thr_micro: r for r in QUERIES["llm_dedup_threshold_curve"].fn(spark, SF_DIR).collect()}
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    sets = {}
    for d in docs:
        ws = d.text.split(" ")
        sets[d.doc_id] = {
            " ".join(ws[i : i + SHINGLE_N])
            for i in range(len(ws) - SHINGLE_N + 1)
        }
    ids = sorted(sets)
    sims = []
    for i, lo in enumerate(ids):
        if not sets[lo]:
            continue
        for hi in ids[i + 1 :]:
            inter = len(sets[lo] & sets[hi])
            if inter == 0:
                continue
            union = len(sets[lo]) + len(sets[hi]) - inter
            sims.append((lo, hi, 1_000_000 * inter // union))
    assert set(rows) == set(THRESHOLDS_MICRO)
    prev_removed = None
    for thr in sorted(THRESHOLDS_MICRO):
        dup = [(lo, hi) for lo, hi, j in sims if j >= thr]
        removed = {hi for _, hi in dup}
        r = rows[thr]
        assert r.n_dup_pairs == len(dup)
        assert r.n_docs_removed == len(removed)
        assert r.n_survivors == len(docs) - len(removed)
        # monotone: raising the threshold never removes more docs
        if prev_removed is not None:
            assert r.n_docs_removed <= prev_removed
        prev_removed = r.n_docs_removed
    # the curve is genuinely non-flat on this fixture (dups exist)
    assert rows[min(THRESHOLDS_MICRO)].n_docs_removed > 0


def test_var_cvar_matches_python_tail(spark):
    rows = {r.event_type: r for r in QUERIES["agg_var_cvar_exact"].fn(spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").select("event_type", "event_id", "value").collect()
    per = defaultdict(list)
    for e in ev:
        per[e.event_type].append((math.floor(e.value * 100 + 0.5), e.event_id))
    assert set(rows) == set(per)
    for typ, vals in per.items():
        n = len(vals)
        k = n // TAIL_DIV
        tail = sorted(vals, key=lambda t: (-t[0], t[1]))[:k]
        cents = [c for c, _ in tail]
        r = rows[typ]
        assert (r.n_rows, r.n_tail) == (n, k)
        assert r.var95_cents == min(cents)
        assert r.cvar95_cents == sum(cents) // k
        assert r.max_cents == max(cents)
        # ES dominates VaR, by definition of a tail mean
        assert r.cvar95_cents >= r.var95_cents
        assert r.cvar95_cents <= r.max_cents
