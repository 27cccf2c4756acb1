"""Semantic property tests for extension pack 105 (extended105.py)."""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.extended105 import LUHN_CORRUPT_MOD
from classification_problem_with_pyspark_spark.operators.ml_stats import TAU_SPLIT
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def _luhn_sum(payload: str) -> int:
    total = 0
    for i, ch in enumerate(payload, start=1):
        d = int(ch)
        if (12 - i) % 2 == 0:
            d = 2 * d
            if d > 9:
                d -= 9
        total += d
    return total


def test_luhn_rejects_exactly_the_corrupted_cards(spark):
    row = QUERIES["scalar_luhn_checksum_suite"].fn(spark, SF_DIR).collect()[0]
    keys = [o.o_orderkey for o in load(spark, SF_DIR, "orders").collect()]
    n_valid = n_rejected = 0
    for k in keys:
        payload = str(k % 100000000000).zfill(11)
        check = (10 - _luhn_sum(payload) % 10) % 10
        if k % LUHN_CORRUPT_MOD == 0:
            payload = payload[:4] + str((int(payload[4]) + 1) % 10) + payload[5:]
        ok = (_luhn_sum(payload) + check) % 10 == 0
        n_valid += ok
        n_rejected += not ok
    assert row.n_cards == len(keys)
    assert (row.n_valid, row.n_rejected) == (n_valid, n_rejected)
    # Luhn provably catches every single-digit error: zero misses
    assert row.n_missed_corruptions == 0
    assert row.n_rejected == sum(1 for k in keys if k % LUHN_CORRUPT_MOD == 0)


def test_kendall_tau_matches_python_pairs(spark):
    row = QUERIES["ml_kendall_tau_rank_stability"].fn(spark, SF_DIR).collect()[0]
    li = load(spark, SF_DIR, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice"
    ).collect()
    split = dt.datetime.fromisoformat(TAU_SPLIT)
    rev = defaultdict(lambda: [0, 0])
    for r in li:
        per = 0 if r.l_shipdate < split else 1
        rev[r.l_partkey][per] += round(r.l_extendedprice * 100)
    both = sorted(
        (p, r0, r1) for p, (r0, r1) in rev.items() if r0 > 0 and r1 > 0
    )
    conc = disc = 0
    for i in range(len(both)):
        for j in range(i + 1, len(both)):
            prod = (both[i][1] - both[j][1]) * (both[i][2] - both[j][2])
            if prod > 0:
                conc += 1
            elif prod < 0:
                disc += 1
    n_pairs = len(both) * (len(both) - 1) // 2
    assert row.n_pairs == n_pairs
    assert (row.concordant, row.discordant) == (conc, disc)
    assert row.tied == n_pairs - conc - disc
    # engine DIV truncates toward zero (pack-65 lesson); replay likewise
    num = 1_000_000 * (conc - disc)
    tdiv = abs(num) // n_pairs
    assert row.tau_micro == (-tdiv if num < 0 else tdiv)
    # the migration matrix's near-independence, as a scalar: |τ| small
    assert abs(row.tau_micro) < 200_000
