"""Semantic property tests for extension pack 115 (extended115.py)."""

from __future__ import annotations

import calendar
import datetime as dt
import math

from classification_problem_with_pyspark_spark.operators.llm_text import HILL_K
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def _add_months(d: dt.date, n: int) -> dt.date:
    """Clamping month add — the semantic the suite pins."""
    y = d.year + (d.month - 1 + n) // 12
    m = (d.month - 1 + n) % 12 + 1
    return dt.date(y, m, min(d.day, calendar.monthrange(y, m)[1]))


def test_month_suite_matches_python_calendar(spark):
    rows = QUERIES["scalar_month_arithmetic_suite"].fn(spark, SF_DIR).collect()
    assert rows
    clamped = 0
    for r in rows:
        d = r.d
        assert r.plus_1m == _add_months(d, 1)
        assert r.minus_1m == _add_months(d, -1)
        assert r.plus_13m == _add_months(d, 13)
        last = dt.date(d.year, d.month, calendar.monthrange(d.year, d.month)[1])
        assert r.month_end == last
        assert r.days_in_month == last.day
        assert r.is_month_end == (d == last)
        qm = 3 * ((d.month - 1) // 3) + 1
        assert r.quarter_start == dt.date(d.year, qm, 1)
        assert r.next_quarter_start == _add_months(dt.date(d.year, qm, 1), 3)
        feb = dt.date(d.year, 2, calendar.monthrange(d.year, 2)[1])
        assert r.feb_end_of_year == feb
        assert r.is_leap_year == calendar.isleap(d.year)
        # count real clamp events (day-31 dates rolling into shorter months)
        if d.day == 31 and r.plus_1m.day != 31:
            clamped += 1
    # the spine must actually exercise the clamp, or the suite is vacuous
    assert clamped > 0


def test_hill_matches_python_fold(spark):
    row = QUERIES["llm_length_powerlaw_hill"].fn(spark, SF_DIR).collect()[0]
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    lens = sorted(
        ((len(r.text.split(" ")), r.doc_id) for r in docs),
        key=lambda t: (-t[0], t[1]),
    )
    top = lens[:HILL_K]
    x_k1 = lens[HILL_K][0]
    s = sum(round(1_000_000 * math.log(n / x_k1)) for n, _ in top)
    assert row.k == HILL_K
    assert row.tail_threshold_words == x_k1
    assert row.sum_ln_micro == s
    assert row.alpha_micro == round(1_000_000.0 * HILL_K * 1_000_000 / s)
    # a real tail index: positive and not degenerate
    assert row.alpha_micro > 0
