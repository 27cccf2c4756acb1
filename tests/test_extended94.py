"""Semantic property tests for extension pack 94 (extended94.py)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.llm_data import (
    BIAS_GAP,
    PAIR_MOD,
    PAIR_STRIDE,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_position_bias_flips_are_exactly_the_close_contests(spark):
    row = QUERIES["llm_judge_position_bias"].fn(spark, SF_DIR).collect()[0]
    docs = {r.doc_id: len(r.text) for r in load(spark, SF_DIR, "documents").collect()}
    n_pairs = n_flip = n_close = 0
    for ida, la in docs.items():
        idb = ida + PAIR_STRIDE
        if idb not in docs:
            continue
        if int(hashlib.md5(f"bt_{ida}".encode()).hexdigest()[:15], 16) % PAIR_MOD:
            continue
        lb = docs[idb]
        if la == lb:
            continue
        n_pairs += 1
        w1 = 1 if la - lb > -BIAS_GAP else 0
        w2 = 0 if lb - la > -BIAS_GAP else 1
        if w1 != w2:
            n_flip += 1
        if abs(la - lb) < BIAS_GAP:
            n_close += 1
    assert row.n_pairs == n_pairs
    assert row.n_flipped == n_flip
    assert row.n_consistent == n_pairs - n_flip
    assert row.n_close_contests == n_close
    assert row.flip_rate_micro == 1_000_000 * n_flip // n_pairs
    # by construction of a position-biased judge, the flips ARE the
    # close contests — the audit's structural theorem
    assert row.n_flipped == row.n_close_contests
    assert 0 < row.n_flipped < row.n_pairs


def test_int96_roundtrip_preserves_instants(spark):
    rows = {r.month: r for r in QUERIES["source_parquet_int96_timestamps"].fn(spark, SF_DIR).collect()}
    orders = [
        o for o in load(spark, SF_DIR, "orders").collect()
        if o.o_orderdate.strftime("%Y-%m-%d") < "1996-01-01"
    ]
    agg = defaultdict(list)
    for o in orders:
        agg[o.o_orderdate.strftime("%Y-%m")].append(o.o_orderdate)
    assert set(rows) == set(agg)
    for m, ts_list in agg.items():
        r = rows[m]
        assert r.n_orders == len(ts_list)
        assert r.first_ts == min(ts_list).strftime("%Y-%m-%d %H:%M:%S")
        assert r.last_ts == max(ts_list).strftime("%Y-%m-%d %H:%M:%S")
    # the staged files really carry INT96 (reader accepts legacy encoding,
    # instants unshifted — the two assertions above prove the semantics)
    assert len(rows) == 12  # a full year of months in the slice
