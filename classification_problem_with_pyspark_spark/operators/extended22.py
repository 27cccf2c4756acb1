"""Round-3 extension pack #22: process-mining conformance checking —
transition-level and per-trace (user) fitness against a declared process
model.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — conformance checking in process mining (van der Aalst):
compare an event log's observed transitions against an allowed-transition
model and report violations at the transition and trace level — expressed
on the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the model is a literal VALUES
table identical on both engines; transitions order by (ts, event_id)
total order; counts exact; the per-user fitness folds one
floor(1e6·ok/n) expression.

Scale posture (SURVEY.md §7.6): sequence pairs come from one user-keyed
lead window (no global sort); the model joins as a broadcast literal;
both reports are map-side-combinable groupBys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows

# the declared process model: transitions the business considers legal
ALLOWED = [
    ("view", "view"), ("view", "click"), ("click", "view"), ("click", "click"),
    ("click", "purchase"), ("signup", "view"), ("signup", "click"),
    ("purchase", "view"), ("view", "signup"), ("error", "view"),
]

_ALLOWED_SQL = ", ".join(f"('{a}','{b}')" for a, b in ALLOWED)


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull())
    )


def _allowed_df(spark: SparkSession) -> DataFrame:
    return local_rows(spark, ALLOWED, "cur string, nxt string").withColumn(
        "ok", F.lit(1)
    )


@register(
    "events_conformance_transitions",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ), pairs AS (
        SELECT cur, nxt FROM seq WHERE nxt IS NOT NULL
    ), allowed(cur, nxt) AS (VALUES {_ALLOWED_SQL})
    SELECT p.cur, p.nxt,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(max(CASE WHEN a.cur IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS is_allowed
    FROM pairs p LEFT JOIN allowed a ON p.cur = a.cur AND p.nxt = a.nxt
    GROUP BY p.cur, p.nxt ORDER BY p.cur, p.nxt
    """,
)
def events_conformance_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-mining conformance report, transition level (SURVEY.md
    §2.13): every observed (current → next) event transition with its
    volume and whether the declared process model permits it — the
    conformance-checking companion to `events_transition_matrix` (which
    only counts): 15 of 25 observed transition types violate the
    10-rule model, carrying 60% of volume at sf0.01 (the synthetic log
    is a random walk; flagging that IS the check working).

    The model is data (a literal transition whitelist), not code — the
    declarative form every conformance engine uses, so swapping models
    is swapping a broadcast table.

    Scale: one user-keyed lead window + a broadcast model join +
    map-side-combinable counts.
    """
    pairs = _pairs(spark, sf_dir)
    allowed = _allowed_df(spark)
    return (
        pairs.join(F.broadcast(allowed), ["cur", "nxt"], "left")
        .groupBy("cur", "nxt")
        .agg(
            F.count("*").alias("n_transitions"),
            F.max(F.coalesce("ok", F.lit(0))).cast("long").alias("is_allowed"),
        )
        .orderBy("cur", "nxt")
    )


@register(
    "events_conformance_fitness",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ), pairs AS (
        SELECT user_id, cur, nxt FROM seq WHERE nxt IS NOT NULL
    ), allowed(cur, nxt) AS (VALUES {_ALLOWED_SQL})
    SELECT p.user_id,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(SUM(CASE WHEN a.cur IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_conforming,
           CAST(floor(1000000.0 * SUM(CASE WHEN a.cur IS NOT NULL
                                           THEN 1 ELSE 0 END) / count(*))
                AS BIGINT) AS fitness_micro
    FROM pairs p LEFT JOIN allowed a ON p.cur = a.cur AND p.nxt = a.nxt
    GROUP BY p.user_id ORDER BY p.user_id
    """,
)
def events_conformance_fitness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trace conformance fitness (SURVEY.md §2.13): each user's
    journey scored as the fraction of its transitions the process
    model allows, in floor-micro units — process mining's trace-fitness
    measure, the per-entity rollup of
    `events_conformance_transitions`. Low-fitness users are the ones
    whose journeys the model fails to describe (all of them here —
    random walks average ~0.4 fitness — which is the point of
    measuring).

    Scale: same one-window shape; the rollup keys on user, so the
    report scales with user count, not event count.
    """
    pairs = _pairs(spark, sf_dir)
    allowed = _allowed_df(spark)
    ok = F.coalesce("ok", F.lit(0))
    return (
        pairs.join(F.broadcast(allowed), ["cur", "nxt"], "left")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_transitions"),
            F.sum(ok).cast("long").alias("n_conforming"),
            F.floor(1000000.0 * F.sum(ok) / F.count("*"))
            .cast("long")
            .alias("fitness_micro"),
        )
        .orderBy("user_id")
    )
