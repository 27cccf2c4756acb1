"""Semantic property tests for extension pack 109 (extended109.py)."""

from __future__ import annotations

import math
from collections import defaultdict

from classification_problem_with_pyspark_spark.operators.extended109 import DRAIN_MICRO_PER_SEC
from classification_problem_with_pyspark_spark.operators.ml_stats import PSI_BINS, PSI_SPLIT
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def _div(a: int, b: int) -> int:
    """Truncating integer division (Spark DIV / DuckDB // semantics)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_lindley_backlog_matches_sequential_recursion(spark):
    """The window identity W_k = S_k - min(0, min_{j<=k} S_j) must equal
    the literal sequential fold W_k = max(0, W_{k-1} + x_k) — the whole
    point of the key is that these are the same function."""
    rows = QUERIES["events_queue_lindley_backlog"].fn(spark, SF_DIR).collect()
    ev = load(spark, SF_DIR, "events").collect()
    import datetime as dt

    per_user = defaultdict(list)
    for r in ev:
        # collected ts is naive in the session TZ (UTC); pin the zone so
        # the epoch conversion cannot depend on container-local time
        ts_us = int(r.ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        per_user[r.user_id].append((ts_us, r.event_id, round(r.value * 1_000_000)))
    expected = {}
    for uid, seq in per_user.items():
        seq.sort(key=lambda t: (t[0], t[1]))
        w = 0
        peak = busy = idle = 0
        prev_ts = None
        for ts_us, _eid, work in seq:
            drain = (
                0
                if prev_ts is None
                else _div((ts_us - prev_ts) * DRAIN_MICRO_PER_SEC, 1_000_000)
            )
            w = max(0, w + work - drain)
            peak = max(peak, w)
            busy += 1 if w > 0 else 0
            idle += 1 if w == 0 else 0
            prev_ts = ts_us
        expected[uid] = (len(seq), peak, busy, idle)
    assert len(rows) == len(expected)
    for r in rows:
        n, peak, busy, idle = expected[r.user_id]
        assert r.n_events == n
        assert r.peak_backlog_micro == peak, r.user_id
        assert r.busy_events == busy
        assert r.idle_resets == idle
    # fixture exercises BOTH regimes: bursts accumulate backlog and
    # typical gaps fully drain it
    assert sum(r.busy_events for r in rows) > 0
    assert sum(r.idle_resets for r in rows) > 0


def test_lindley_fixture_has_no_tied_user_timestamps(spark):
    """The window order is pinned by (ts, x), but assert the fixture has
    no (user_id, ts) collisions so the pin is belt-and-braces."""
    ev = load(spark, SF_DIR, "events").select("user_id", "ts").collect()
    seen = set()
    dupes = 0
    for r in ev:
        key = (r.user_id, r.ts)
        dupes += key in seen
        seen.add(key)
    assert dupes == 0


def test_psi_matches_python_fold(spark):
    rows = QUERIES["ml_psi_feature_stability"].fn(spark, SF_DIR).collect()
    o = load(spark, SF_DIR, "orders").select("o_orderdate", "o_totalprice").collect()
    split = PSI_SPLIT
    ref = sorted(
        round(r.o_totalprice * 100)
        for r in o
        if str(r.o_orderdate) < split
    )
    na = len(ref)
    edges = [
        ref[-(-na * k // PSI_BINS) - 1] for k in range(1, PSI_BINS)
    ]  # value at rank ceil(na*k/10), 1-indexed

    def bin_of(cents: int) -> int:
        return sum(1 for e in edges if cents > e)

    ca = [0] * PSI_BINS
    cb = [0] * PSI_BINS
    for r in o:
        cents = round(r.o_totalprice * 100)
        if str(r.o_orderdate) < split:
            ca[bin_of(cents)] += 1
        else:
            cb[bin_of(cents)] += 1
    nb = sum(cb)
    assert len(rows) == PSI_BINS
    for r in rows:
        b = r.bin
        assert r.n_ref == ca[b]
        assert r.n_cur == cb[b]
        assert r.share_ref_micro == _div(1_000_000 * ca[b], na)
        assert r.share_cur_micro == _div(1_000_000 * cb[b], nb)
        pa = max(ca[b], 1) / na
        pb = max(cb[b], 1) / nb
        assert r.psi_term_micro == round(1_000_000 * (pa - pb) * math.log(pa / pb))
    # reference-period deciles are (near-)equal occupancy by construction
    assert max(ca) - min(ca) <= PSI_BINS


def test_psi_is_zero_when_periods_identical(spark):
    """PSI of a distribution against itself must be 0 in every bin —
    sanity for the sign convention and the epsilon clamp."""
    rows = QUERIES["ml_psi_feature_stability"].fn(spark, SF_DIR).collect()
    # self-PSI sanity is structural (pa == pb -> ln(1) == 0): verify via
    # the identity on the ref shares themselves
    for r in rows:
        if r.n_ref == r.n_cur and r.share_ref_micro == r.share_cur_micro:
            assert r.psi_term_micro == 0
