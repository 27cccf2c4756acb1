"""Semantic property tests for extension pack 117 (extended117.py)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.extended117 import VWAP_PARTS_MOD
from classification_problem_with_pyspark_spark.operators.ml_stats import (
    CONF_ALPHA_PCT,
    CONF_CAL_MOD,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def _h(prefix: str, key: int) -> int:
    return int(hashlib.md5(f"{prefix}{key}".encode()).hexdigest()[:15], 16)


def test_vwap_matches_python_fold(spark):
    rows = QUERIES["window_vwap"].fn(spark, SF_DIR).collect()
    li = load(spark, SF_DIR, "lineitem").select(
        "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber",
        "l_extendedprice", "l_quantity",
    ).collect()
    fills = defaultdict(list)
    for r in li:
        if _h("vwap_", r.l_partkey) % VWAP_PARTS_MOD == 0:
            fills[r.l_partkey].append(
                (
                    r.l_shipdate,
                    r.l_orderkey,
                    r.l_linenumber,
                    round(r.l_extendedprice * 100),
                    int(r.l_quantity),
                )
            )
    expected = {}
    for part, seq in fills.items():
        seq.sort(key=lambda t: (t[0], t[1], t[2]))
        cpv = cq = 0
        for _ts, ok, ln, pv, qty in seq:
            cpv += pv
            cq += qty
            expected[(part, ok, ln)] = (
                cq,
                cpv,
                cpv // cq,
                pv // qty > cpv // cq,
            )
    assert len(rows) == len(expected)
    above = 0
    for r in rows:
        cq, cpv, vwap, flag = expected[(r.part, r.l_orderkey, r.l_linenumber)]
        assert (r.cum_qty, r.cum_pv_cents, r.vwap_cents) == (cq, cpv, vwap)
        assert r.above_vwap == flag
        above += flag
    # fills land on both sides of the benchmark
    assert 0 < above < len(rows)


def test_conformal_matches_python_and_covers(spark):
    row = QUERIES["ml_conformal_interval_split"].fn(spark, SF_DIR).collect()[0]
    o = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).collect()
    base = [
        (
            r.o_orderkey,
            round(r.o_totalprice * 100),
            r.o_orderpriority,
            _h("conf_", r.o_orderkey) % CONF_CAL_MOD == 0,
        )
        for r in o
    ]
    cal_sum = defaultdict(lambda: [0, 0])
    for _k, y, g, is_cal in base:
        if is_cal:
            cal_sum[g][0] += y
            cal_sum[g][1] += 1
    yhat = {g: s // c for g, (s, c) in cal_sum.items()}
    resid = [(k, abs(y - yhat[g]), is_cal) for k, y, g, is_cal in base]
    cal = sorted(((r, k) for k, r, is_cal in resid if is_cal))
    n_cal = len(cal)
    rank = min(n_cal, ((n_cal + 1) * (100 - CONF_ALPHA_PCT) + 99) // 100)
    q = cal[rank - 1][0]
    test = [(k, r) for k, r, is_cal in resid if not is_cal]
    covered = sum(1 for _k, r in test if r <= q)
    assert row.n_cal == n_cal
    assert row.n_test == len(test)
    assert row.q_cents == q
    assert row.n_covered == covered
    assert row.coverage_micro == (1_000_000 * covered) // len(test)
    # the conformal guarantee (exchangeable split): coverage ~>= 1-alpha;
    # allow small-sample slack below the nominal level
    assert row.coverage_micro >= (100 - CONF_ALPHA_PCT) * 10_000 - 25_000
    # interval is not vacuous: it does NOT cover everything
    assert row.n_covered < row.n_test
