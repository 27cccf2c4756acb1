"""Semantic property tests for extension pack 29 (extended29.py)."""

from __future__ import annotations

import collections

import pyspark.sql.functions as F

from classification_problem_with_pyspark_spark.operators.ml_metrics import (
    NDCG_DISC_MICRO,
    NDCG_PREFIX_MICRO,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_reconciliation_accounts_for_every_order(spark):
    rows = QUERIES["audit_order_reconciliation"].fn(spark, SF_DIR).collect()
    o = load(spark, SF_DIR, "orders")
    li = load(spark, SF_DIR, "lineitem")
    assert sum(r.n_orders for r in rows) == o.count()
    orders_with_lines = li.select("l_orderkey").distinct().count()
    assert sum(r.n_missing_lines for r in rows) == o.count() - orders_with_lines
    for r in rows:
        assert 0 <= r.n_breaks <= r.n_orders - r.n_missing_lines
        assert r.max_abs_break_cents <= r.sum_abs_break_cents
    # this synthetic ledger does NOT reconcile - the audit must say so
    assert sum(r.n_breaks for r in rows) > 0


def test_ndcg_discount_table_properties():
    assert list(NDCG_DISC_MICRO) == sorted(NDCG_DISC_MICRO, reverse=True)
    assert NDCG_DISC_MICRO[0] == 1_000_000
    assert NDCG_PREFIX_MICRO[0] == NDCG_DISC_MICRO[0]
    for i in range(1, len(NDCG_DISC_MICRO)):
        assert NDCG_PREFIX_MICRO[i] == NDCG_PREFIX_MICRO[i - 1] + NDCG_DISC_MICRO[i]


def test_ndcg_matches_bruteforce_replay(spark):
    rows = QUERIES["ml_ndcg_at_k"].fn(spark, SF_DIR).collect()
    li = load(spark, SF_DIR, "lineitem")
    o = load(spark, SF_DIR, "orders")
    c = load(spark, SF_DIR, "customer")
    facts = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("qty"),
            F.expr("unix_micros(o_orderdate)").alias("ous"),
        )
        .collect()
    )
    # replicate: split over ORDER dates, not fact rows
    odates = (
        o.select(F.expr("unix_micros(o_orderdate)").alias("u")).collect()
    )
    omin = min(r.u for r in odates)
    omax = max(r.u for r in odates)
    split = omin + (omax - omin) // 2
    train_qty = collections.Counter()
    truth = collections.defaultdict(set)
    for f in facts:
        if f.ous < split:
            train_qty[(f.seg, f.part)] += f.qty
        else:
            truth[(f.seg, f.cust)].add(f.part)
    recs = collections.defaultdict(list)
    for (seg, part), q in train_qty.items():
        recs[seg].append((-q, part))
    top = {
        seg: [p for _, p in sorted(v)[:10]] for seg, v in recs.items()
    }
    per_seg = collections.defaultdict(list)
    for (seg, cust), parts in truth.items():
        dcg = sum(
            NDCG_DISC_MICRO[i]
            for i, p in enumerate(top.get(seg, []))
            if p in parts
        )
        idcg = NDCG_PREFIX_MICRO[min(len(parts), 10) - 1]
        hits = sum(1 for p in top.get(seg, []) if p in parts)
        per_seg[seg].append((hits, 1_000_000 * dcg // idcg))
    for r in rows:
        users = per_seg[r.seg]
        assert r.n_users == len(users)
        assert r.total_hits == sum(h for h, _ in users)
        assert r.hit_rate_micro == 1_000_000 * sum(
            1 for h, _ in users if h > 0
        ) // len(users)
        assert r.mean_ndcg_micro == sum(nd for _, nd in users) // len(users)
    # the popularity recommender must actually hit something
    assert sum(r.total_hits for r in rows) > 0
