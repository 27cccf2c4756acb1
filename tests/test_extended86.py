"""Semantic property tests for extension pack 86 (extended86.py)."""

from __future__ import annotations

import os
from collections import Counter, defaultdict

from classification_problem_with_pyspark_spark.operators.extended86 import (
    LIFT_MIN_SUPPORT,
    LIFT_TOP,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def test_collocation_lift_matches_python_counts(spark):
    rows = sorted(
        QUERIES["llm_collocation_lift"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.rank,
    )
    docs = load(spark, SF_DIR, "documents").select("text").collect()
    uni = Counter()
    bi = Counter()
    for d in docs:
        ws = d.text.split(" ")
        for w in ws:
            if w:
                uni[w] += 1
        for a, b in zip(ws, ws[1:]):
            if a and b:
                bi[(a, b)] += 1
    n = sum(uni.values())
    lifted = [
        (
            1_000_000 * c * n // (uni[a] * uni[b]),
            a,
            b,
            c,
        )
        for (a, b), c in bi.items()
        if c >= LIFT_MIN_SUPPORT
    ]
    top = sorted(lifted, key=lambda t: (-t[0], t[1], t[2]))[:LIFT_TOP]
    assert len(rows) == min(LIFT_TOP, len(top))
    for r, (lift, a, b, c) in zip(rows, top):
        assert (r.w1, r.w2) == (a, b)
        assert r.n_ab == c
        assert (r.n_a, r.n_b) == (uni[a], uni[b])
        assert r.lift_micro == lift
        # a collocation worth the name: far above independence
        assert r.lift_micro > 1_000_000
    # lifts are non-increasing down the ranked list
    lifts = [r.lift_micro for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_bom_csv_parses_first_column_cleanly(spark):
    df = QUERIES["source_csv_bom_handling"].fn(spark, SF_DIR)
    rows = df.collect()
    nat = sorted(
        (r.n_nationkey, r.n_name) for r in load(spark, SF_DIR, "nation").collect()
    )
    assert [(r.nation_key, r.name) for r in rows] == nat
    # the staged file genuinely starts with the UTF-8 BOM bytes
    path = os.path.join(staged_dir(df, "csv_bom"), "part-0.csv")
    raw = open(path, "rb").read()
    assert raw[:3] == b"\xef\xbb\xbf"
    # and the first record did not get swallowed with the header
    assert rows[0].nation_key == nat[0][0]
