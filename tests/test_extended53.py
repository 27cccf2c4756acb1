"""Semantic property tests for extension pack 53 (extended53.py)."""

from __future__ import annotations

import json
import math
import os
from collections import defaultdict

from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def test_json_multiline_array_roundtrip_is_lossless(spark):
    df = QUERIES["source_json_multiline_array"].fn(spark, SF_DIR)
    rows = df.collect()
    sup = sorted(
        (r.s_suppkey, r.s_name, r.s_nationkey, round(r.s_acctbal, 2))
        for r in load(spark, SF_DIR, "supplier").collect()
    )
    assert [(r.supp_key, r.name, r.nation_key, r.acctbal) for r in rows] == sup
    # the staged file genuinely is ONE multi-line JSON array document
    path = os.path.join(staged_dir(df, "json_multiline"), "suppliers.json")
    text = open(path).read()
    doc = json.loads(text)
    assert isinstance(doc, list) and len(doc) == len(sup)
    assert text.count("\n") > len(sup)  # pretty-printed across many lines
    # a line-oriented read of the same file would NOT see the rows
    jsonl_rows = (
        spark.read.schema("supp_key bigint, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )
    try:
        ok = jsonl_rows.where("supp_key IS NOT NULL").count()
    finally:
        jsonl_rows.unpersist()
    assert ok == 0  # JSONL semantics shred the array — multiLine is required


def test_vshape_pattern_matches_python_scan(spark):
    rows = {r.user_id: r for r in QUERIES["window_pattern_match_vshape"].fn(spark, SF_DIR).collect()}
    ev = sorted(
        load(spark, SF_DIR, "events").select("user_id", "ts", "event_id", "value").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append(math.floor(r.value * 100 + 0.5))
    expected = {}
    for uid, cs in per_user.items():
        ms = []
        for i in range(4, len(cs)):
            a, b, t, u, v = cs[i - 4], cs[i - 3], cs[i - 2], cs[i - 1], cs[i]
            if a > b > t and t < u < v:
                ms.append((a, t, v))
        if ms:
            expected[uid] = (
                len(ms),
                min(t for _, t, _ in ms),
                max(v - t for _, t, v in ms),
                sum(1 for a, _, v in ms if v > a),
            )
    assert set(rows) == set(expected)
    assert expected  # the fixture genuinely contains V-shapes
    for uid, (n, trough, recov, full) in expected.items():
        r = rows[uid]
        assert (r.n_vshapes, r.deepest_trough_cents) == (n, trough)
        assert (r.max_recovery_cents, r.n_full_recoveries) == (recov, full)
        assert r.n_full_recoveries <= r.n_vshapes
        assert r.max_recovery_cents > 0  # strictly-rising exit leg
