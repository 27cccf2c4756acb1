"""Semantic property tests for extension pack 50 (extended50.py)."""

from __future__ import annotations

from classification_problem_with_pyspark_spark.operators.extended50 import (
    CDC_DEL_MOD,
    CDC_INS_MOD,
    CDC_UPD_MOD,
    FW_KEY_W,
    FW_NAME_W,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def test_fixed_width_roundtrip_is_lossless(spark):
    df = QUERIES["source_fixed_width_parse"].fn(spark, SF_DIR)
    rows = df.collect()
    nat = sorted(
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in load(spark, SF_DIR, "nation").collect()
    )
    assert [(r.nation_key, r.name, r.region_key) for r in rows] == nat
    # the staged file genuinely is fixed-width: every line same length
    import os

    path = os.path.join(staged_dir(df, "fixed_width"), "part-0.dat")
    with open(path) as f:
        lines = [ln.rstrip("\n") for ln in f]
    assert len({len(ln) for ln in lines}) == 1
    # zero-padded key field and space-padded name field
    assert lines[0][:FW_KEY_W].isdigit()
    assert len(lines[0][FW_KEY_W : FW_KEY_W + FW_NAME_W]) == FW_NAME_W


def test_cdc_apply_matches_python_state_machine(spark):
    rows = {r.status: r for r in QUERIES["sink_cdc_changefeed_apply"].fn(spark, SF_DIR).collect()}
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).collect()
    agg = {}
    for o in orders:
        k = o.o_orderkey
        cents = round(o.o_totalprice * 100)
        in_base = k % CDC_INS_MOD != 2
        if k % CDC_DEL_MOD == 0:
            op = "D"
        elif k % CDC_INS_MOD == 2:
            op = "I"
        elif k % CDC_UPD_MOD == 0:
            op = "U"
        else:
            op = None
        after = None
        if op == "D":
            after = None
        elif op == "I":
            after = cents
        elif op == "U":
            after = cents * 110 // 100
        elif in_base:
            after = cents
        a = agg.setdefault(o.o_orderstatus, [0, 0, 0, 0, 0, 0, 0])
        if in_base:
            a[0] += 1
            a[5] += cents
        if after is not None:
            a[1] += 1
            a[6] += after
        if op == "I" and after is not None:
            a[2] += 1
        if op == "U":
            a[3] += 1
        if op == "D" and in_base:
            a[4] += 1
    assert set(rows) == set(agg)
    for st, (nb, na, ni, nu, nd, cb, ca) in agg.items():
        r = rows[st]
        assert (r.n_before, r.n_after) == (nb, na)
        assert (r.n_inserted, r.n_updated, r.n_deleted) == (ni, nu, nd)
        assert (r.cents_before, r.cents_after) == (cb, ca)
        # flow conservation: after = before + inserts - deletes
        assert r.n_after == r.n_before + r.n_inserted - r.n_deleted
    # every op kind genuinely fires, including delete-beats-update keys
    assert any(k % CDC_DEL_MOD == 0 and k % CDC_UPD_MOD == 0
               for k in (o.o_orderkey for o in orders))
    tot = [sum(v[i] for v in agg.values()) for i in range(7)]
    assert tot[2] > 0 and tot[3] > 0 and tot[4] > 0
