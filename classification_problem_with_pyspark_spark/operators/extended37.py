"""Round-3 extension pack #37: exact half-life decay scoring and a
chi-square feature-drift test.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — exponentially-decayed engagement scoring (the recency-
weighted counters behind feeds/ranking) and the chi-square homogeneity
test for feature drift between cohorts (the train/serve skew check) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): the decay uses a HALF-LIFE
measured in whole weeks, so every weight is a power of two and the
decayed sum is an exact integer shiftright fold — the rare decay
schedule that needs no floats at all; drift χ² is exact BIGINT
contingency counts plus ONE mirrored double expression (the ztest/
keyness precedent).

Scale posture (SURVEY.md §7.6): both keys are one map-side-combinable
groupBy over the facts; the drift contingency is (cohort × score) —
bounded by the score grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.operators.extended27 import (
    _SCORED_SQL,
    _scored,
)
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "events_halflife_decay_score",
    oracle="""
    WITH b AS (SELECT epoch_us(max(ts)) AS mx FROM events),
    w AS (
        SELECT user_id,
               CAST(((SELECT mx FROM b) - epoch_us(ts))
                    // 604800000000 AS BIGINT) AS weeks_ago,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END
                   AS cents
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(1000000 // (1 << weeks_ago)) AS BIGINT)
               AS decayed_activity_micro,
           CAST(SUM(cents // (1 << weeks_ago)) AS BIGINT)
               AS decayed_spend_cents
    FROM w GROUP BY user_id ORDER BY user_id
    """,
)
def events_halflife_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed engagement scores (SURVEY.md §2.13): every
    event contributes weight 2^(−weeks_ago) relative to the corpus'
    latest timestamp — the recency-weighted counter behind feed ranking
    and churn scoring, with the ONE decay schedule that is exactly
    representable: a half-life in whole weeks makes every weight a
    power of two, so activity decays as 1e6 >> weeks and spend as
    cents >> weeks — pure integer shifts, no exp(), no float powers
    (contrast `window_ewma`, whose continuous decay is inherently
    float). Truncation per event is the documented contract.

    Exactness: week ages are integer epoch-µs floor-divisions; weights
    are 1 << weeks_ago; the folds are integer divisions summed exactly.

    Scale: one narrow projection + a user-keyed map-side-combinable
    sum — scan-speed over any volume; the reference timestamp is one
    broadcast scalar.
    """
    e = load(spark, sf_dir, "events")
    b = e.agg(F.max(F.unix_micros("ts")).alias("mx"))
    w = e.crossJoin(F.broadcast(b)).select(
        "user_id",
        F.expr("(mx - unix_micros(ts)) DIV 604800000000").alias("weeks_ago"),
        F.when(
            F.col("event_type") == "purchase",
            F.expr("CAST(round(value * 100) AS BIGINT)"),
        )
        .otherwise(0)
        .alias("cents"),
    )
    return (
        w.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("1000000 DIV (1 << CAST(weeks_ago AS INT))"))
            .cast("long")
            .alias("decayed_activity_micro"),
            F.sum(F.expr("cents DIV (1 << CAST(weeks_ago AS INT))"))
            .cast("long")
            .alias("decayed_spend_cents"),
        )
        .orderBy("user_id")
    )


@register(
    "ml_feature_drift_chi2",
    oracle=f"""
    WITH {_SCORED_SQL},
    cohorts AS (
        SELECT score,
               CAST(('0x' || substr(md5('drift_' || CAST(user_id AS VARCHAR)),
                                    1, 15)) AS BIGINT) % 2 AS cohort
        FROM scored
    ),
    cells AS (
        SELECT score, cohort, CAST(count(*) AS BIGINT) AS n
        FROM cohorts GROUP BY score, cohort
    ),
    margins AS (
        SELECT c.score, c.cohort, c.n, r.row_n, col.col_n, t.total
        FROM cells c
        JOIN (SELECT score, CAST(SUM(n) AS BIGINT) AS row_n
              FROM cells GROUP BY score) r ON c.score = r.score
        JOIN (SELECT cohort, CAST(SUM(n) AS BIGINT) AS col_n
              FROM cells GROUP BY cohort) col ON c.cohort = col.cohort
        CROSS JOIN (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cells) t
    )
    SELECT CAST(count(DISTINCT score) AS BIGINT) AS n_score_levels,
           CAST(MAX(total) AS BIGINT) AS n_users,
           CAST(SUM((((n * total - row_n * col_n)
                      * (n * total - row_n * col_n))
                     // (row_n * col_n)) * 1000000 // total) AS BIGINT)
               AS chi2_micro
    FROM margins
    """,
)
def ml_feature_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature-drift (homogeneity) test (SURVEY.md §2.11):
    does the early-activity score distribute identically across two
    hash-random user cohorts? χ² = Σ (O − E)²/E over the
    (score × cohort) contingency — the train/serve-skew check run on
    every deployed feature, completing the drift family beside
    `events_ks_drift` (which compares CDFs) with the binned-counts
    test. Hash-random cohorts ⇒ truthfully no drift (the null run).

    Exactness: each cell's (O − E)²/E is the exact rational
    (nT − rc)²/(rcT), folded per cell as a TWO-STEP integer division
    (the Spearman/runs-test headroom lesson: the single-expression form
    crosses 2⁶³ around sf1) and then SUMMED AS BIGINTs — unlike a
    cross-cell double sum, whose result depends on summation order and
    would flip the driver hash. Zero floats.

    Scale: one per-user aggregate (shared with pack 27), one bounded
    contingency groupBy, broadcast margins.
    """
    scored = _scored(spark, sf_dir)
    cohorts = scored.select(
        "score",
        (md5_long(F.concat(F.lit("drift_"), F.col("user_id").cast("string"))) % 2).alias("cohort"),
    )
    cells = cohorts.groupBy("score", "cohort").agg(F.count("*").alias("n"))
    rowm = cells.groupBy("score").agg(F.sum("n").alias("row_n"))
    colm = cells.groupBy("cohort").agg(F.sum("n").alias("col_n"))
    tot = cells.agg(F.sum("n").alias("total"))
    margins = (
        cells.join(F.broadcast(rowm), "score")
        .join(F.broadcast(colm), "cohort")
        .crossJoin(F.broadcast(tot))
    )
    return margins.agg(
        F.countDistinct("score").alias("n_score_levels"),
        F.max("total").cast("long").alias("n_users"),
        F.sum(
            F.expr(
                "(((n * total - row_n * col_n)"
                " * (n * total - row_n * col_n))"
                " DIV (row_n * col_n)) * 1000000 DIV total"
            )
        )
        .cast("long")
        .alias("chi2_micro"),
    )
