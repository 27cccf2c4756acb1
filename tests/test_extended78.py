"""Semantic property tests for extension pack 78 (extended78.py)."""

from __future__ import annotations

import hashlib

from classification_problem_with_pyspark_spark.operators.ml_metrics import FLIP_MOD
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_not_in_null_trap_pins_three_valued_logic(spark):
    row = QUERIES["subquery_not_in_null_trap"].fn(spark, SF_DIR).collect()[0]
    probe = {
        r.c_nationkey for r in load(spark, SF_DIR, "customer").collect()
    }
    nat = [r.n_nationkey for r in load(spark, SF_DIR, "nation").collect() if r.n_nationkey < 10]
    listed = {None if k % 7 == 3 else k for k in nat}
    non_null = {k for k in listed if k is not None}
    has_null = None in listed
    assert row.n_nulls_in_list == sum(1 for k in nat if k % 7 == 3)
    assert has_null and row.n_nulls_in_list > 0
    # THE trap: NOT IN over a nullable list is empty — correct ANSI logic
    assert row.not_in_nullable == 0
    # both fixes agree on the real answer
    real = sum(1 for k in probe if k not in non_null)
    assert row.not_exists == real
    assert row.not_in_filtered == real
    assert real > 0  # the correct answer is genuinely non-empty


def test_brier_skill_matches_python_replay(spark):
    row = QUERIES["ml_brier_skill_exact"].fn(spark, SF_DIR).collect()[0]
    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    n = len(emb)
    pos = 0
    sq = 0
    for e in emb:
        o = 1 if e.label < 5 else 0
        pos += o
        if _h(f"brier_{e.vec_id}") % FLIP_MOD == 0:
            f = 500_000
        elif e.label < 5:
            f = 700_000 + _h(f"bf_{e.vec_id}") % 300_000
        else:
            f = _h(f"bf_{e.vec_id}") % 300_000
        sq += (f - 1_000_000 * o) ** 2
    assert (row.n, row.pos) == (n, pos)
    assert row.brier_micro2 == sq // n
    clim = (1_000_000 * pos // n) * (1_000_000 * (n - pos) // n)
    assert row.climatology_micro2_approx == clim
    assert row.brier_over_ref_micro == (1_000_000 * (sq // n)) // clim
    # the sharp-but-blunted forecaster beats climatology (skill ratio < 1)
    assert row.brier_over_ref_micro < 1_000_000
    assert row.brier_micro2 < clim
    # ...but not perfectly (the 0.5-blunted rows cost real Brier mass)
    assert row.brier_micro2 > 0
