"""Semantic property tests for extension pack 85 (extended85.py)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.extended85 import SLA_DAYS
from classification_problem_with_pyspark_spark.operators.ml_stats import BT_ITERS, BT_MATCH_MOD
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_bradley_terry_matches_python_mm(spark):
    rows = {r.source: r for r in QUERIES["ml_bradley_terry_strengths"].fn(spark, SF_DIR).collect()}
    docs = {r.doc_id: (r.source, len(r.text)) for r in load(spark, SF_DIR, "documents").collect()}
    wins = defaultdict(int)
    n_ij = defaultdict(int)
    for ida, (sa, la) in docs.items():
        idb = ida + 7
        if idb not in docs:
            continue
        sb, lb = docs[idb]
        if sa == sb or la == lb:
            continue
        if int(hashlib.md5(f"bt_{ida}".encode()).hexdigest()[:15], 16) % BT_MATCH_MOD:
            continue
        i, j = min(sa, sb), max(sa, sb)
        n_ij[(i, j)] += 1
        winner = sa if la > lb else sb
        if winner == i:
            wins[(i, j)] += 1
    items = sorted({s for p in n_ij for s in p})
    anchor = items[0]
    pi = {s: 1.0 for s in items}
    for _ in range(BT_ITERS):
        raw = {}
        for s in items:
            w_i = 0.0
            denom = 0.0
            # opponent-ordered fold, mirroring the engines' pinned order
            for o in sorted(items):
                if o == s:
                    continue
                i, j = min(s, o), max(s, o)
                if (i, j) not in n_ij:
                    continue
                w_so = wins[(i, j)] if s == i else n_ij[(i, j)] - wins[(i, j)]
                w_i += w_so
                denom += n_ij[(i, j)] / (pi[s] + pi[o])
            raw[s] = w_i / denom
        z = raw[anchor]
        pi = {s: v / z for s, v in raw.items()}
    assert set(rows) == set(items)
    for s in items:
        assert abs(rows[s].strength - pi[s]) < 1e-4
    # the anchor's strength is exactly 1 by construction
    assert abs(rows[anchor].strength - 1.0) < 1e-9
    # ranks are a permutation consistent with strengths
    ranked = sorted(rows.values(), key=lambda r: (-r.strength, r.source))
    assert [r.rank for r in ranked] == list(range(1, len(items) + 1))


def test_inline_values_lookup_counts_sla_breaches(spark):
    rows = {r.priority: r for r in QUERIES["relational_inline_values_lookup"].fn(spark, SF_DIR).collect()}
    orders = load(spark, SF_DIR, "orders").collect()
    asof = max(o.o_orderdate.date() for o in orders)
    agg = defaultdict(lambda: [0, 0])
    for o in orders:
        if o.o_orderstatus != "O":
            continue
        age = (asof - o.o_orderdate.date()).days
        a = agg[o.o_orderpriority]
        a[0] += 1
        a[1] += 1 if age > SLA_DAYS[o.o_orderpriority] else 0
    assert set(rows) == set(agg)
    for pr, (n, breached) in agg.items():
        r = rows[pr]
        assert (r.n_open, r.n_breached) == (n, breached)
        assert r.sla_days == SLA_DAYS[pr]
        # tighter SLAs breach more of their book (sanity of the mapping)
        assert 0 <= r.n_breached <= r.n_open
    assert rows["1-URGENT"].n_breached > 0
