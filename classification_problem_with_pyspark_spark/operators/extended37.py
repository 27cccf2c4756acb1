"""Round-3 extension pack #37: exact half-life decay scoring.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — exponentially-decayed engagement scoring (the recency-
weighted counters behind feeds/ranking) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the decay uses a HALF-LIFE
measured in whole weeks, so every weight is a power of two and the
decayed sum is an exact integer shiftright fold — the rare decay
schedule that needs no floats at all.

Scale posture (SURVEY.md §7.6): one map-side-combinable groupBy over
the facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
