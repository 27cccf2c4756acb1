"""Semantic property tests for extension pack 93 (extended93.py)."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.ml_metrics import (
    CLASS_BOOST,
    N_CLASSES,
    SAMPLE_B,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_margin_sampling_selects_the_least_certain(spark):
    rows = {r.label: r for r in QUERIES["ml_uncertainty_margin_sampling"].fn(spark, SF_DIR).collect()}
    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    margins = []
    for e in emb:
        scores = sorted(
            (
                _h(f"tk_{e.vec_id}_{c}") % 1000 + (CLASS_BOOST if c == e.label else 0)
                for c in range(N_CLASSES)
            ),
            reverse=True,
        )
        margins.append((scores[0] - scores[1], e.vec_id, e.label))
    margins.sort()
    selected = margins[:SAMPLE_B]
    agg = defaultdict(lambda: [0, 10**9, -1, 0])
    for m, _, y in selected:
        a = agg[y]
        a[0] += 1
        a[1] = min(a[1], m)
        a[2] = max(a[2], m)
        a[3] += m
    assert set(rows) == set(agg)
    for y, (n, mn, mx, s) in agg.items():
        r = rows[y]
        assert (r.n_selected, r.min_margin, r.max_margin, r.margin_sum) == (
            n, mn, mx, s,
        )
    assert sum(r.n_selected for r in rows.values()) == SAMPLE_B
    # the batch is genuinely the least-certain tail: its max margin is
    # below the corpus median margin
    med = sorted(m for m, _, _ in margins)[len(margins) // 2]
    assert max(r.max_margin for r in rows.values()) <= med


def test_littles_law_audit_matches_python_integral(spark):
    row = QUERIES["events_littles_law_audit"].fn(spark, SF_DIR).collect()[0]
    ev = load(spark, SF_DIR, "events").select("ts", "value").collect()

    def epoch(ts):
        return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() // 1)

    times = [epoch(e.ts) for e in ev]
    w_lo, w_hi = min(times) + 86400, max(times) - 86400
    occ = arr = arr_dur = 0
    for e in ev:
        s = epoch(e.ts)
        en = s + math.floor(e.value * 100 + 0.5) % 3600 + 60
        occ += max(0, min(en, w_hi) - max(s, w_lo))
        if w_lo <= s <= w_hi:
            arr += 1
            arr_dur += en - s
    window = w_hi - w_lo
    assert (row.occupancy_s, row.arrivals) == (occ, arr)
    assert (row.arrival_duration_s, row.window_s) == (arr_dur, window)
    assert row.l_avg_micro == 1_000_000 * occ // window
    assert row.lambda_w_micro == 1_000_000 * arr_dur // window
    assert row.edge_bias_micro == row.l_avg_micro - row.lambda_w_micro
    # in near-steady state the two sides agree to within a tight band —
    # the audit's point is that the residual IS the edge truncation
    assert abs(row.edge_bias_micro) < row.l_avg_micro // 10
    assert row.l_avg_micro > 0
