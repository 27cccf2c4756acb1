"""Semantic property tests for extension pack 77 (extended77.py)."""

from __future__ import annotations

import math
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.extended77 import (
    HI_CENTS,
    LO_CENTS,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR, staged_dir

load_all_modules()


def test_hysteresis_matches_python_state_machine(spark):
    rows = {r.event_type: r for r in QUERIES["events_hysteresis_alerting"].fn(spark, SF_DIR).collect()}
    ev = sorted(
        load(spark, SF_DIR, "events").select("event_type", "ts", "event_id", "value").collect(),
        key=lambda r: (r.event_type, r.ts, r.event_id),
    )
    per = defaultdict(list)
    for r in ev:
        per[r.event_type].append(math.floor(r.value * 100 + 0.5))
    assert set(rows) == set(per)
    for typ, cs in per.items():
        state = -1
        n_alert = episodes = band_held = 0
        for c in cs:
            prev = state
            if c > HI_CENTS:
                state = 1
            elif c < LO_CENTS:
                state = -1
            # values inside the band HOLD the previous state
            if state == 1:
                n_alert += 1
                if prev == -1:
                    episodes += 1
                if LO_CENTS <= c <= HI_CENTS:
                    band_held += 1
        r = rows[typ]
        assert r.n_events == len(cs)
        assert r.n_in_alert == n_alert
        assert r.n_episodes == episodes
        assert r.n_band_held_in_alert == band_held
        # hysteresis did real work: band rows held in alert exist, and
        # episode count is far below the naive single-threshold flip count
        naive_flips = sum(
            1
            for a, b in zip(cs, cs[1:])
            if (a > HI_CENTS) != (b > HI_CENTS)
        )
        assert r.n_episodes <= naive_flips
    assert any(r.n_band_held_in_alert > 0 for r in rows.values())
    assert any(r.n_episodes > 1 for r in rows.values())


def test_multichar_delim_roundtrip_is_lossless(spark):
    df = QUERIES["source_csv_multichar_delim"].fn(spark, SF_DIR)
    rows = df.collect()
    nat = sorted(
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in load(spark, SF_DIR, "nation").collect()
    )
    assert [(r.nation_key, r.name, r.region_key) for r in rows] == nat
    # the staged file genuinely uses the two-character delimiter
    import os

    path = os.path.join(staged_dir(df, "csv_multichar"), "part-0.csv")
    body = open(path).read().splitlines()
    assert all(ln.count("||") == 2 for ln in body)
