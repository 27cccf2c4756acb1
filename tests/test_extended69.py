"""Semantic property tests for extension pack 69 (extended69.py)."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.ml_metrics import FLIP_MOD
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_role_playing_calendar_matches_python_matrix(spark):
    rows = {(r.order_dow, r.shipped_weekend): r for r in QUERIES["join_role_playing_calendar"].fn(spark, SF_DIR).collect()}
    orders = {o.o_orderkey: o.o_orderdate.date() for o in load(spark, SF_DIR, "orders").collect()}
    li = load(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    ).collect()
    agg = defaultdict(lambda: [0, 0])
    for r in li:
        od = orders[r.l_orderkey]
        sd = r.l_shipdate.date()
        dow = od.isoweekday() % 7  # 0=Sunday..6=Saturday
        wknd = sd.isoweekday() >= 6
        a = agg[(dow, wknd)]
        a[0] += 1
        a[1] += round(r.l_extendedprice * 100)
    assert set(rows) == set(agg)
    for key, (n, cents) in agg.items():
        assert (rows[key].n_lines, rows[key].cents) == (n, cents)
    # the matrix is genuinely two-dimensional: all 7 order DOWs appear,
    # and weekend shipping happens for orders placed on weekdays too
    assert {d for d, _ in rows} == set(range(7))
    assert any(w for (d, w) in rows if d not in (0, 6))


def test_mcc_matches_python_formula_and_beats_accuracy_illusion(spark):
    row = QUERIES["ml_mcc_exact"].fn(spark, SF_DIR).collect()[0]
    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    tp = tn = fp = fn = 0
    for e in emb:
        y = 1 if e.label < 5 else 0
        flip = (
            int(hashlib.md5(f"mcc_{e.vec_id}".encode()).hexdigest()[:15], 16)
            % FLIP_MOD
            == 0
        )
        yhat = 1 - y if flip else y
        if y == 1 and yhat == 1:
            tp += 1
        elif y == 0 and yhat == 0:
            tn += 1
        elif y == 0:
            fp += 1
        else:
            fn += 1
    assert (row.tp, row.tn, row.fp, row.fn) == (tp, tn, fp, fn)
    n = tp + tn + fp + fn
    assert row.accuracy_micro == 1_000_000 * (tp + tn) // n
    mcc = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    assert abs(row.mcc - mcc) < 2e-6
    # a 25%-noise predictor: solid but imperfect correlation, and MCC
    # sits visibly below the accuracy impression (the imbalance honesty)
    assert 0.2 < row.mcc < 0.9
    assert row.mcc < row.accuracy_micro / 1_000_000
