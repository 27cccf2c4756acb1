"""Semantic property tests for extension pack 41 (extended41.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from classification_problem_with_pyspark_spark.operators.extended41 import (
    PRIOR_ALPHA,
    PRIOR_N,
    TOP_K_RATED,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from classification_problem_with_pyspark_spark.sources.catalog import load
from tests.conftest import SF_DIR

load_all_modules()


def test_bayesian_average_shrinks_toward_prior(spark):
    rows = QUERIES["agg_bayesian_average_rating"].fn(spark, SF_DIR).collect()
    assert len(rows) == TOP_K_RATED
    prior_micro = 1_000_000 * PRIOR_ALPHA // PRIOR_N
    keys = [(-r.shrunk_rate_micro, r.part) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert r.raw_rate_micro == 1_000_000 * r.n_returns // r.n_lines
        assert r.shrunk_rate_micro == 1_000_000 * (
            r.n_returns + PRIOR_ALPHA
        ) // (r.n_lines + PRIOR_N)
        # shrinkage moves every estimate strictly toward the prior
        if r.raw_rate_micro > prior_micro:
            assert r.shrunk_rate_micro <= r.raw_rate_micro
        else:
            assert r.shrunk_rate_micro >= r.raw_rate_micro


def test_bayesian_average_reorders_small_samples(spark):
    # the point of the key: raw-rate and shrunk-rate rankings differ
    li = load(spark, SF_DIR, "lineitem")
    per = (
        li.groupBy("l_partkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "r"
            ),
        )
        .collect()
    )
    raw_top = sorted(per, key=lambda x: (-(10**6 * x.r // x.n), x.l_partkey))[
        :TOP_K_RATED
    ]
    shrunk_top = sorted(
        per,
        key=lambda x: (
            -(10**6 * (x.r + PRIOR_ALPHA) // (x.n + PRIOR_N)),
            x.l_partkey,
        ),
    )[:TOP_K_RATED]
    assert {x.l_partkey for x in raw_top} != {x.l_partkey for x in shrunk_top}
    got = {r.part for r in QUERIES["agg_bayesian_average_rating"].fn(spark, SF_DIR).collect()}
    assert got == {x.l_partkey for x in shrunk_top}


def test_vocab_growth_curve_mechanics(spark):
    rows = QUERIES["llm_vocab_growth_curve"].fn(spark, SF_DIR).collect()
    assert rows
    batches = [r.batch for r in rows]
    assert batches == sorted(batches)
    cum = 0
    for r in rows:
        assert r.n_new > 0
        cum += r.n_new
        assert r.cum_vocab == cum
    # total vocabulary equals the corpus' distinct 3-shingle count
    d = load(spark, SF_DIR, "documents")
    total = (
        d.select(F.split("text", " ").alias("t"))
        .where(F.size("t") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2), "
                    "i -> array_join(slice(t, i, 3), ' '))"
                )
            ).alias("s")
        )
        .distinct()
        .count()
    )
    assert rows[-1].cum_vocab == total
    # Heaps-law concavity in aggregate: the first batch contributes the most
    assert rows[0].n_new == max(r.n_new for r in rows)
