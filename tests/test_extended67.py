"""Semantic property tests for extension pack 67 (extended67.py)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import numpy as np
import pandas as pd
import pytest

from classification_problem_with_pyspark_spark.operators.extended67 import (
    EMB_DIM,
    IVF_BITS,
    _ivf_cell_batches,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_ivf_cell_balance_matches_python_quantizer(spark):
    rows = {r.cell: r for r in QUERIES["emb_ivf_cell_balance"].fn(spark, SF_DIR).collect()}
    emb = load(spark, SF_DIR, "embeddings").collect()
    signs = {
        (b, d): 1
        if int(hashlib.md5(f"ivf_{b}_{d}".encode()).hexdigest()[:15], 16) % 2 == 0
        else -1
        for b in range(IVF_BITS)
        for d in range(64)
    }
    counts = defaultdict(int)
    for r in emb:
        q = [round(float(x) * 1_000_000) for x in r.embedding]
        cell = 0
        for b in range(IVF_BITS):
            s = sum(signs[(b, d)] * q[d] for d in range(64))
            if s > 0:
                cell |= 1 << b
        counts[cell] += 1
    assert set(rows) == set(counts)
    n = len(emb)
    max_cell = max(counts.values())
    for cell, cnt in counts.items():
        r = rows[cell]
        assert r.n_vecs == cnt
        assert r.share_micro == 1_000_000 * cnt // n
        assert r.imbalance_micro == 1_000_000 * max_cell * len(counts) // n
    # random projections give a populated, imperfectly balanced census
    assert len(counts) > (1 << IVF_BITS) // 2
    assert rows[next(iter(counts))].imbalance_micro > 1_000_000


def test_ivf_cell_worker_rejects_other_widths():
    narrow = pd.DataFrame({"embedding": [np.ones(32)] * 3})
    with pytest.raises(ValueError, match=r"expects 64-dim embeddings, got width\(s\) \[32\]"):
        list(_ivf_cell_batches(iter([narrow])))
    ragged = pd.DataFrame({"embedding": [np.ones(EMB_DIM), np.ones(EMB_DIM - 1)]})
    with pytest.raises(ValueError, match=r"got width\(s\) \[63, 64\]"):
        list(_ivf_cell_batches(iter([ragged])))
    (ok,) = _ivf_cell_batches(iter([pd.DataFrame({"embedding": [np.ones(EMB_DIM)] * 2})]))
    assert len(ok) == 2


def test_time_in_state_matches_python_replay(spark):
    rows = {r.event_type: r for r in QUERIES["events_time_in_state"].fn(spark, SF_DIR).collect()}
    ev = sorted(
        load(spark, SF_DIR, "events").select("user_id", "event_type", "ts", "event_id").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append(r)
    agg = defaultdict(lambda: [0, 0, 0])
    import datetime as dt

    def epoch(ts):
        return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() // 1)

    total = 0
    for seq in per_user.values():
        for cur, nxt in zip(seq, seq[1:]):
            dur = epoch(nxt.ts) - epoch(cur.ts)
            a = agg[cur.event_type]
            a[0] += 1
            a[1] += dur
            a[2] = max(a[2], dur)
            total += dur
    assert set(rows) == set(agg)
    for typ, (n, tot, mx) in agg.items():
        r = rows[typ]
        assert (r.n_intervals, r.total_s, r.max_s) == (n, tot, mx)
        assert r.mean_s == tot // n
        assert r.occupancy_micro == 1_000_000 * tot // total
    # occupancy shares partition the accounted time (floor slack < |states|)
    s = sum(r.occupancy_micro for r in rows.values())
    assert 1_000_000 - len(rows) <= s <= 1_000_000
    # each user's final open state was excluded: intervals = events - users
    assert sum(r.n_intervals for r in rows.values()) == len(ev) - len(per_user)
