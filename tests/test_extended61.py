"""Semantic property tests for extension pack 61 (extended61.py)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from classification_problem_with_pyspark_spark.operators.extended61 import (
    EARLY_MAX_DAY,
    LATE_MIN_DAY,
)
from classification_problem_with_pyspark_spark.operators.ml_metrics import N_CATS, RATER_NOISE_MOD
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_krippendorff_alpha_matches_python_replay(spark):
    row = QUERIES["ml_krippendorff_alpha"].fn(spark, SF_DIR).collect()[0]
    docs = [r.doc_id for r in load(spark, SF_DIR, "documents").select("doc_id").collect()]
    d_o2 = 0
    marg = Counter()
    for doc in docs:
        truth = _h(f"truth_{doc}") % N_CATS
        rs = []
        for r in range(3):
            noisy = _h(f"rate{r}_{doc}") % RATER_NOISE_MOD == 0
            rs.append((truth + 1 + r) % N_CATS if noisy else truth)
        agree = sum(1 for i in range(3) for j in range(3) if i != j and rs[i] == rs[j])
        d_o2 += 6 - agree
        marg.update(rs)
    n = 3 * len(docs)
    sum_sq = sum(v * v for v in marg.values())
    alpha = 1_000_000 - (1_000_000 * (n - 1) * d_o2) // (2 * (n * n - sum_sq))
    raw = 1_000_000 * (6 * len(docs) - d_o2) // (6 * len(docs))
    assert (row.n_units, row.n_ratings, row.d_o2) == (len(docs), n, d_o2)
    assert row.alpha_micro == alpha
    assert row.raw_agreement_micro == raw
    # the chance correction does work: alpha is strictly below raw agreement
    assert row.alpha_micro < row.raw_agreement_micro
    # noisy-but-mostly-consistent raters: substantial but imperfect agreement
    assert 300_000 < row.alpha_micro < 990_000


def test_hellinger_drift_matches_python_replay(spark):
    rows = {r.event_type: r for r in QUERIES["events_hellinger_drift"].fn(spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").select("event_type", "ts").collect()
    cells = defaultdict(lambda: defaultdict(lambda: [0, 0]))
    for e in ev:
        day = e.ts.day
        if day <= EARLY_MAX_DAY:
            cells[e.event_type][e.ts.hour][0] += 1
        elif day >= LATE_MIN_DAY:
            cells[e.event_type][e.ts.hour][1] += 1
    assert set(rows) == set(cells)
    for typ, hrs in cells.items():
        n_e = sum(v[0] for v in hrs.values())
        n_l = sum(v[1] for v in hrs.values())
        root = 0.0
        for hr in sorted(hrs):  # the order-pinned fold
            c, d = hrs[hr]
            root += math.sqrt(c * d)
        bc = root / math.sqrt(n_e * n_l)
        r = rows[typ]
        assert (r.n_early, r.n_late) == (n_e, n_l)
        assert abs(r.bhattacharyya - bc) < 2e-6
        assert abs(r.hellinger - math.sqrt(max(0.0, 1 - bc))) < 2e-6
        # BC ∈ (0,1]; a stationary hourly profile drifts little
        assert 0.5 < r.bhattacharyya <= 1.0
        assert 0.0 <= r.hellinger < 0.75
