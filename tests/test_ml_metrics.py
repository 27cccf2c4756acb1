"""Semantic property tests for the exact model-evaluation metrics
(``operators/ml_metrics.py``); each replays a key's numbers in Python."""

from __future__ import annotations

import collections
import hashlib
from fractions import Fraction

from classification_problem_with_pyspark_spark.operators.extended26 import (
    _POISSON_CDF_MICRO,
)
from classification_problem_with_pyspark_spark.operators.ml_metrics import (
    AUC_B,
    FLIP_MOD,
    LIFT_BOOST,
    LIFT_K,
    N_CLASSES,
    N_GROUPS,
    _scored,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_roc_curve_confusion_identities(spark):
    rows = QUERIES["ml_roc_curve_threshold"].fn(spark, SF_DIR).collect()
    assert rows
    pos = rows[0].tp + rows[0].fn
    neg = rows[0].fp + rows[0].tn
    prev_tp = prev_fp = 0
    for r in rows:  # thresholds descending: counts must only grow
        assert r.tp + r.fn == pos and r.fp + r.tn == neg
        assert r.tp >= prev_tp and r.fp >= prev_fp
        prev_tp, prev_fp = r.tp, r.fp
        assert r.tpr_micro == 1_000_000 * r.tp // pos
        assert r.fpr_micro == 1_000_000 * r.fp // neg
        assert r.precision_micro == 1_000_000 * r.tp // (r.tp + r.fp)
    # the loosest threshold classifies everyone positive
    assert rows[-1].tp == pos and rows[-1].fp == neg


def test_auc_equals_roc_trapezoid_exactly(spark):
    auc = QUERIES["ml_auc_exact"].fn(spark, SF_DIR).collect()[0]
    roc = QUERIES["ml_roc_curve_threshold"].fn(spark, SF_DIR).collect()
    pos = auc.n_pos
    neg = auc.n_neg
    # trapezoid over the exact (fp, tp) staircase, in rationals —
    # the rank-sum midrank AUC is exactly this area (ties ↔ diagonals)
    pts = [(0, 0)] + [(r.fp, r.tp) for r in roc]
    area = Fraction(0)
    for (fp0, tp0), (fp1, tp1) in zip(pts, pts[1:]):
        area += Fraction((fp1 - fp0) * (tp1 + tp0), 2)
    auc_frac = area / (pos * neg)
    assert auc.auc_micro == (1_000_000 * auc_frac.numerator) // auc_frac.denominator
    # the early-activity model genuinely ranks (sf0.01: ~0.58)
    assert 520_000 < auc.auc_micro < 680_000


def test_calibration_table_accounts_for_everyone(spark):
    rows = QUERIES["ml_calibration_by_score"].fn(spark, SF_DIR).collect()
    e = load(spark, SF_DIR, "events")
    n_users = e.select("user_id").distinct().count()
    assert sum(r.n for r in rows) == n_users
    pos = sum(r.n_pos for r in rows)
    for r in rows:
        assert 0 <= r.n_pos <= r.n
        assert r.pos_rate_micro == 1_000_000 * r.n_pos // r.n
        assert r.base_rate_micro == 1_000_000 * pos // n_users
        assert r.lift_micro == 1_000_000 * r.n_pos * n_users // (r.n * pos)
    # some segment must beat the base rate for the AUC signal to exist
    assert any(r.lift_micro > 1_000_000 for r in rows)


def test_mcnemar_cells_tie_to_langid(spark):
    r = QUERIES["ml_mcnemar_test"].fn(spark, SF_DIR).collect()[0]
    langid = QUERIES["llm_langid"].fn(spark, SF_DIR).collect()
    cells = collections.Counter()
    for x in langid:
        a = x.is_match
        b = x.tagged_lang == "en"
        cells[(a, b)] += 1
    assert r.both_right == cells[(True, True)]
    assert r.only_a == cells[(True, False)]
    assert r.only_b == cells[(False, True)]
    assert r.both_wrong == cells[(False, False)]
    total = sum(cells.values())
    assert r.both_right + r.only_a + r.only_b + r.both_wrong == total
    d = r.only_a - r.only_b
    assert r.chi2_micro == (1_000_000 * d * d) // (r.only_a + r.only_b)


def _poisson_w(u: int) -> int:
    for k, t in enumerate(_POISSON_CDF_MICRO):
        if u < t:
            return k
    return 8


def test_auc_bootstrap_ci_replays(spark):
    r = QUERIES["ml_auc_bootstrap_ci"].fn(spark, SF_DIR).collect()[0]
    cohort = _scored(spark, SF_DIR).collect()
    aucs = []
    for b in range(AUC_B):
        grid = collections.defaultdict(lambda: [0, 0])
        for s in cohort:
            u = int(
                hashlib.md5(
                    f"aucboot_{b}_{s.user_id}".encode()
                ).hexdigest()[:15],
                16,
            ) % 1_000_000
            w = _poisson_w(u)
            g = grid[s.score]
            g[0] += w
            g[1] += w * s.label
        before = 0
        r1_2 = n1 = n0 = 0
        for score in sorted(grid):
            c, p = grid[score]
            r1_2 += p * (2 * before + c + 1)
            n1 += p
            n0 += c - p
            before += c
        if n1 > 0 and n0 > 0:
            aucs.append((1_000_000 * (r1_2 - n1 * (n1 + 1))) // (2 * n1 * n0))
    aucs.sort()
    assert r.n_replicates == len(aucs)
    assert r.ci_lo_micro == aucs[1]
    assert r.ci_hi_micro == aucs[len(aucs) - 2]
    # the CI brackets the point AUC from the exact key
    point = QUERIES["ml_auc_exact"].fn(spark, SF_DIR).collect()[0].auc_micro
    assert r.ci_lo_micro <= point <= r.ci_hi_micro
    assert r.ci_lo_micro < r.ci_hi_micro


def _h(prefix: str, vec_id: int) -> int:
    return int(hashlib.md5(f"{prefix}{vec_id}".encode()).hexdigest()[:15], 16)


def _labels(spark):
    return [
        (r.vec_id, r.label)
        for r in load(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    ]


def test_classification_report_matches_python_replay(spark):
    rows = {r["class"]: r for r in QUERIES["ml_classification_report_exact"].fn(spark, SF_DIR).collect()}
    pairs = _labels(spark)
    tp = [0] * N_CLASSES
    support = [0] * N_CLASSES
    n_pred = [0] * N_CLASSES
    for vec_id, y in pairs:
        yhat = (y + 1) % N_CLASSES if _h("clf_", vec_id) % FLIP_MOD == 0 else y
        support[y] += 1
        n_pred[yhat] += 1
        if y == yhat:
            tp[y] += 1
    f1s = []
    for c in range(N_CLASSES):
        r = rows[c]
        assert (r.support, r.n_predicted, r.tp) == (support[c], n_pred[c], tp[c])
        p = 1_000_000 * tp[c] // max(1, n_pred[c])
        rec = 1_000_000 * tp[c] // max(1, support[c])
        f1 = (2 * p * rec) // max(1, p + rec)
        assert (r.precision_micro, r.recall_micro, r.f1_micro) == (p, rec, f1)
        f1s.append(f1)
    any_row = rows[0]
    assert any_row.macro_f1_micro == sum(f1s) // N_CLASSES
    assert any_row.accuracy_micro == 1_000_000 * sum(tp) // len(pairs)
    # the stand-in predictor is genuinely noisy but mostly right
    assert 600_000 < any_row.accuracy_micro < 950_000


def test_lift_deciles_partition_and_monotone_gain(spark):
    rows = sorted(
        QUERIES["ml_lift_gain_deciles"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.decile,
    )
    pairs = _labels(spark)
    n = len(pairs)
    p_total = sum(1 for _, lab in pairs if lab == 0)
    assert [r.decile for r in rows] == list(range(1, LIFT_K + 1))
    assert sum(r.n_rows for r in rows) == n
    assert sum(r.n_pos for r in rows) == p_total
    # replay decile assignment: sort by (score desc, vec_id), ntile split
    scored = sorted(
        (
            -(_h("lift_", v) % 1_000_000 + (LIFT_BOOST if lab == 0 else 0)),
            v,
            lab,
        )
        for v, lab in pairs
    )
    base, rem = divmod(n, LIFT_K)
    idx = 0
    cum = 0
    for d, r in enumerate(rows, start=1):
        size = base + (1 if d <= rem else 0)
        chunk = scored[idx : idx + size]
        idx += size
        n_pos = sum(1 for s in chunk if s[2] == 0)
        assert r.n_rows == size
        assert r.n_pos == n_pos
        assert r.min_score_micro == -chunk[-1][0] if chunk else True
        cum += n_pos
        assert r.cum_gain_micro == 1_000_000 * cum // p_total
        assert r.lift_micro == (1_000_000 * n_pos * n) // (size * p_total)
    # gains are cumulative and end at 100%
    gains = [r.cum_gain_micro for r in rows]
    assert gains == sorted(gains)
    assert gains[-1] == 1_000_000
    # the boosted score concentrates positives up front: decile-1 lift > 1
    assert rows[0].lift_micro > 1_000_000


def test_fairness_gaps_match_python_replay(spark):
    rows = {r.grp: r for r in QUERIES["ml_fairness_group_gaps"].fn(spark, SF_DIR).collect()}
    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    per = collections.defaultdict(lambda: [0, 0, 0, 0, 0])  # n, sel, tp, pos, fp
    for e in emb:
        g = _h("grp_", e.vec_id) % N_GROUPS
        y = 1 if e.label < 5 else 0
        yhat = (1 - y) if _h("fclf_", e.vec_id) % FLIP_MOD == 0 else y
        a = per[g]
        a[0] += 1
        a[1] += yhat
        a[2] += 1 if (y == 1 and yhat == 1) else 0
        a[3] += y
        a[4] += 1 if (y == 0 and yhat == 1) else 0
    assert set(rows) == set(per)
    sels, tprs, fprs = [], [], []
    for g, (n, sel, tp, pos, fp) in per.items():
        r = rows[g]
        assert r.n == n
        sel_m = 1_000_000 * sel // n
        tpr_m = 1_000_000 * tp // max(1, pos)
        fpr_m = 1_000_000 * fp // max(1, n - pos)
        assert (r.sel_micro, r.tpr_micro, r.fpr_micro) == (sel_m, tpr_m, fpr_m)
        sels.append(sel_m)
        tprs.append(tpr_m)
        fprs.append(fpr_m)
    dp = max(sels) - min(sels)
    eo = max(max(tprs) - min(tprs), max(fprs) - min(fprs))
    for r in rows.values():
        assert r.demographic_parity_gap_micro == dp
        assert r.equalized_odds_gap_micro == eo
    # the hash classifier treats hash-assigned groups nearly alike —
    # gaps exist (finite samples) but are bounded
    assert 0 < dp < 200_000
