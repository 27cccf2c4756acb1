"""Semantic property tests for extension pack 32 (extended32.py)."""

from __future__ import annotations

import collections
import hashlib
import math

import pyspark.sql.functions as F

from classification_problem_with_pyspark_spark.operators.extended32 import CHANNELS, W12
from classification_problem_with_pyspark_spark.operators.llm_text import WM_Z2_FLAG
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_shapley_matches_bruteforce_game(spark):
    rows = QUERIES["events_shapley_attribution"].fn(spark, SF_DIR).collect()
    assert [r.channel for r in rows] == sorted(CHANNELS)
    users = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.collect_set("event_type").alias("types"),
        )
        .collect()
    )
    k = len(CHANNELS)
    conv_by_mask = collections.Counter()
    for u in users:
        mask = sum(1 << i for i, ch in enumerate(CHANNELS) if ch in u.types)
        if "purchase" in u.types:
            conv_by_mask[mask] += 1

    def v(s):
        return sum(c for m, c in conv_by_mask.items() if m & s == m)

    phis = {}
    for i in range(k):
        phi = 0
        for s in range(1 << k):
            if (s >> i) % 2 == 0:
                phi += W12[bin(s).count("1")] * (v(s + (1 << i)) - v(s))
        phis[CHANNELS[i]] = phi
    for r in rows:
        assert r.phi12 == phis[r.channel], r
    # efficiency: shapley values exactly divide v(full) - v(empty)
    assert sum(phis.values()) == 12 * (v((1 << k) - 1) - v(0))
    # exact weight identity: W12/12 are the k=4 Shapley position weights
    for s_len, w in enumerate(W12):
        expect = (
            math.factorial(s_len) * math.factorial(k - 1 - s_len)
            / math.factorial(k)
        )
        assert w / 12 == expect
    total = sum(r.phi12 for r in rows)
    for r in rows:
        assert r.share_micro == 1_000_000 * r.phi12 // total


def test_watermark_stats_on_natural_text(spark):
    rows = QUERIES["llm_watermark_greenlist"].fn(spark, SF_DIR).collect()
    d = load(spark, SF_DIR, "documents")
    assert len(rows) == d.where(F.size(F.split("text", " ")) >= 2).count()
    total_green = sum(r.n_green for r in rows)
    total_pairs = sum(r.n_pairs for r in rows)
    # natural (unwatermarked) text sits near 50% green
    assert abs(total_green / total_pairs - 0.5) < 0.03
    for r in rows:
        d2 = (2 * r.n_green - r.n_pairs) ** 2
        assert r.z_sq_micro == 1_000_000 * d2 // r.n_pairs
        assert r.is_flagged == (d2 > WM_Z2_FLAG * r.n_pairs)
    # a corpus this size should produce at most a stray flag at |z|>4
    assert sum(1 for r in rows if r.is_flagged) <= 2


def _green(prev: str, cur: str) -> bool:
    h = hashlib.md5(f"wm_{prev}_{cur}".encode()).hexdigest()
    return int(h[:15], 16) % 2 == 0


def test_watermark_detects_a_greedily_green_generator():
    # simulate a watermarking generator: from a small vocabulary always
    # pick a green successor when one exists - detection must flag it
    vocab = [f"w{i}" for i in range(20)]
    text = ["w0"]
    for _ in range(60):
        prev = text[-1]
        nxt = next((c for c in vocab if _green(prev, c)), vocab[0])
        text.append(nxt)
    n = len(text) - 1
    g = sum(1 for a, b in zip(text, text[1:]) if _green(a, b))
    assert (2 * g - n) ** 2 > WM_Z2_FLAG * n  # flags under the key's rule
    # and a random pairing is NOT flagged
    flat = [vocab[(7 * i) % 20] for i in range(61)]
    n2 = len(flat) - 1
    g2 = sum(1 for a, b in zip(flat, flat[1:]) if _green(a, b))
    assert (2 * g2 - n2) ** 2 <= WM_Z2_FLAG * n2
