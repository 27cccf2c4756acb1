"""Semantic property tests for extension pack 23 (extended23.py)."""

from __future__ import annotations

from classification_problem_with_pyspark_spark.operators.extended23 import STUDY_HOURS
from classification_problem_with_pyspark_spark.operators.llm_dedup import K_SPAN
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

import pyspark.sql.functions as F

load_all_modules()


def test_span_coverage_bounds_and_identities(spark):
    rows = QUERIES["llm_span_dedup_coverage"].fn(spark, SF_DIR).collect()
    d = load(spark, SF_DIR, "documents")
    n_eligible = d.where(F.size(F.split("text", " ")) >= K_SPAN).count()
    assert len(rows) == n_eligible
    for r in rows:
        assert 0 <= r.n_shared_spans <= r.n_spans
        assert r.shared_micro == 1_000_000 * r.n_shared_spans // r.n_spans
        assert r.is_span_dup == (5 * r.n_shared_spans >= r.n_spans)


def test_hot_spans_ordering_and_consistency(spark):
    rows = QUERIES["llm_span_hot_spans"].fn(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 100
    for r in rows:
        assert r.n_docs >= 2
        assert r.n_occurrences >= r.n_docs
        assert len(r.shingle.split(" ")) == K_SPAN
    keys = [(-r.n_docs, -r.n_occurrences, r.shingle) for r in rows]
    assert keys == sorted(keys)


def test_span_views_agree_on_duplication(spark):
    # every hot span must contribute to the shared-span tally of >= 2 docs
    hot = QUERIES["llm_span_hot_spans"].fn(spark, SF_DIR).collect()
    cov = QUERIES["llm_span_dedup_coverage"].fn(spark, SF_DIR).collect()
    total_shared = sum(r.n_shared_spans for r in cov)
    # each duplicated span is counted once per carrying doc
    min_from_hot = sum(r.n_docs for r in hot)
    assert total_shared >= min_from_hot - len(hot)  # top-100 is a lower bound
    assert total_shared > 0


def test_kaplan_meier_curve_mechanics(spark):
    rows = QUERIES["events_kaplan_meier"].fn(spark, SF_DIR).collect()
    e = load(spark, SF_DIR, "events")
    n_users = e.select("user_id").distinct().count()
    assert rows
    ts = [r.t_hours for r in rows]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    risks = [r.n_risk for r in rows]
    assert risks == sorted(risks, reverse=True)
    assert risks[0] <= n_users
    assert sum(r.n_events for r in rows) <= n_users
    cum = 0
    for r in rows:
        assert 0 < r.n_events <= r.n_risk
        assert r.hazard_micro == 1_000_000 * r.n_events // r.n_risk
        cum += r.hazard_micro
        assert r.na_cum_hazard_micro == cum
    # cumulative hazard is a strictly increasing step function
    assert all(
        a.na_cum_hazard_micro < b.na_cum_hazard_micro
        for a, b in zip(rows, rows[1:])
    )


def test_kaplan_meier_horizon_caps_durations(spark):
    rows = QUERIES["events_kaplan_meier"].fn(spark, SF_DIR).collect()
    assert all(r.t_hours <= STUDY_HOURS for r in rows)
