"""Semantic property tests for extension pack 62 (extended62.py)."""

from __future__ import annotations

import os
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.ml_metrics import (
    COST_FN,
    COST_FP,
    _scored,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def test_csv_locale_roundtrip_preserves_cents_exactly(spark):
    df = QUERIES["source_csv_locale_decimal"].fn(spark, SF_DIR)
    rows = df.collect()
    sup = sorted(
        (r.s_suppkey, r.s_name, round(r.s_acctbal * 100))
        for r in load(spark, SF_DIR, "supplier").collect()
    )
    assert [(r.supp_key, r.name, r.acctbal_cents) for r in rows] == sup
    # the staged file genuinely uses the hostile locale format
    path = os.path.join(staged_dir(df, "csv_locale"), "part-0.csv")
    body = open(path).read().splitlines()[1:]
    assert all(";" in ln for ln in body)
    assert any("," in ln.rsplit(";", 1)[1] for ln in body)  # decimal commas
    assert any("-" in ln.rsplit(";", 1)[1] for ln in body)  # negatives occur
    assert any("." in ln.rsplit(";", 1)[1] for ln in body)  # thousands dots


def test_cost_sensitive_threshold_is_the_argmin(spark):
    row = QUERIES["ml_cost_sensitive_threshold"].fn(spark, SF_DIR).collect()
    assert len(row) == 1
    row = row[0]
    scored = _scored(spark, SF_DIR).collect()
    pos = sum(r.label for r in scored)
    grid = defaultdict(lambda: [0, 0])
    for r in scored:
        grid[r.score][0] += r.label
        grid[r.score][1] += 1 - r.label
    tp = fp = 0
    best = None
    youden_best = None
    neg = len(scored) - pos
    for score in sorted(grid, reverse=True):
        tp += grid[score][0]
        fp += grid[score][1]
        cost = COST_FP * fp + COST_FN * (pos - tp)
        if best is None or (cost, score) < best[0]:
            best = ((cost, score), fp, pos - tp)
        jj = 1_000_000 * tp // pos - 1_000_000 * fp // neg
        if youden_best is None or (-jj, score) < youden_best[0]:
            youden_best = ((-jj, score), score)
    assert row.threshold == best[0][1]
    assert row.expected_cost == best[0][0]
    assert (row.fp, row.fn) == (best[1], best[2])
    # asymmetric FN-heavy costs pick a MORE permissive (lower) threshold
    # than Youden's statistics-optimal point
    assert row.threshold <= youden_best[1]
