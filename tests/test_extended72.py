"""Semantic property tests for extension pack 72 (extended72.py)."""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import Decimal

from classification_problem_with_pyspark_spark.operators.extended72 import EXPOSURE_GATE
from classification_problem_with_pyspark_spark.operators.ml_stats import Z95
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_odds_risk_ratios_match_python_table(spark):
    row = QUERIES["agg_odds_risk_ratios"].fn(spark, SF_DIR).collect()[0]
    ev = load(spark, SF_DIR, "events").select("ts", "value").collect()
    a = b = c = d = 0
    for e in ev:
        exposed = e.ts.date().isoweekday() >= 6
        outcome = e.value > EXPOSURE_GATE
        if exposed and outcome:
            a += 1
        elif exposed:
            b += 1
        elif outcome:
            c += 1
        else:
            d += 1
    assert (row.a, row.b, row.c, row.d) == (a, b, c, d)
    assert row.odds_ratio_micro == 1_000_000 * a * d // (b * c)
    assert row.risk_ratio_micro == 1_000_000 * a * (c + d) // (c * (a + b))
    assert row.risk_diff_micro == 1_000_000 * a // (a + b) - 1_000_000 * c // (c + d)
    # the common-outcome divergence: OR exaggerates relative to RR
    # on whichever side of 1 the association falls
    if row.risk_ratio_micro > 1_000_000:
        assert row.odds_ratio_micro >= row.risk_ratio_micro
    else:
        assert row.odds_ratio_micro <= row.risk_ratio_micro


def test_ols_inference_matches_python_closed_form(spark):
    rows = {r.l_returnflag: r for r in QUERIES["ml_ols_inference"].fn(spark, SF_DIR).collect()}
    li = load(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    groups = defaultdict(list)
    for r in li:
        q = Decimal(str(r.l_quantity)).quantize(Decimal("0.01"))
        p = Decimal(str(round(r.l_extendedprice, 2)))
        groups[r.l_returnflag].append((q, p))
    assert set(rows) == set(groups)
    for flag, pts in groups.items():
        n = len(pts)
        sx = float(sum(q for q, _ in pts))
        sy = float(sum(p for _, p in pts))
        sxx = float(sum(q * q for q, _ in pts))
        sxy = float(sum(q * p for q, p in pts))
        syy = float(sum(p * p for _, p in pts))
        nsxx = n * sxx - sx * sx
        nsxy = n * sxy - sx * sy
        nsyy = n * syy - sy * sy
        slope = nsxy / nsxx
        se = math.sqrt((nsyy - nsxy * nsxy / nsxx) / (n - 2) / nsxx)
        r = rows[flag]
        assert r.n == n
        assert abs(r.slope - slope) < 1e-4
        assert abs(r.slope_se - se) < 1e-4
        assert abs(r.t_stat - slope / se) < 1e-2
        assert abs(r.ci_lo - (slope - Z95 * se)) < 1e-3
        assert abs(r.ci_hi - (slope + Z95 * se)) < 1e-3
        # CI brackets the estimate, and the significance verdict is
        # consistent: |t| > z95 exactly when the CI excludes zero
        assert r.ci_lo < r.slope < r.ci_hi
        assert (abs(r.t_stat) > Z95) == (r.ci_lo > 0 or r.ci_hi < 0)
