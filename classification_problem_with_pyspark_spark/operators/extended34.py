"""Round-3 extension pack #34: causal-inference estimators
(difference-in-differences, stratified ATE) and a transaction-log replay
source.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — difference-in-differences (the Card-Krueger workhorse),
stratification on a propensity-like score with the common-support
restriction (Rosenbaum & Rubin 1983 lineage), and lakehouse
transaction-log replay (the Delta/Iceberg mechanism: the table IS the
fold of an ordered add/remove action log) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): group assignment is md5
parity; every cell mean folds floor-micro over exact counts; DiD and
ATE are differences/weighted sums of those integer folds. The txn-log
reader's oracle restates the SEMANTIC final table from the base data, so
a hash match proves the log fold picked exactly the right files.

Scale posture (SURVEY.md §7.6): both estimators reduce facts to one
per-user aggregate then play on bounded cell/stratum tables; the log
replay reads only live files (the data-skipping property the log
exists for) and the log itself is a tiny JSON read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.operators.ml_metrics import (
    _SCORED_SQL,
    _scored,
)
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import (
    bounded_collect,
    load,
    local_rows,
    stage_dir,
)


def _md5_bit(salt: str, col: str) -> F.Column:
    return md5_long(F.concat(F.lit(salt), F.col(col).cast("string"))) % 2


@register(
    "events_diff_in_diff",
    oracle="""
    WITH b AS (
        SELECT epoch_us(min(ts))
               + (epoch_us(max(ts)) - epoch_us(min(ts))) // 2 AS sp
        FROM events
    ),
    tagged AS (
        SELECT CAST(('0x' || substr(md5('did_' || CAST(user_id AS VARCHAR)),
                                    1, 15)) AS BIGINT) % 2 AS grp,
               epoch_us(ts) >= (SELECT sp FROM b) AS post,
               user_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS buy
        FROM events
    ),
    users AS (
        SELECT grp, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM tagged GROUP BY grp
    ),
    cells AS (
        SELECT grp, post, CAST(SUM(buy) AS BIGINT) AS purchases
        FROM tagged GROUP BY grp, post
    ),
    m AS (
        SELECT c.grp, c.post,
               CAST((1000000 * c.purchases) // u.n_users AS BIGINT) AS rate
        FROM cells c JOIN users u ON c.grp = u.grp
    )
    SELECT
        CAST(MAX(CASE WHEN grp = 1 AND NOT post THEN rate END) AS BIGINT)
            AS treat_pre_micro,
        CAST(MAX(CASE WHEN grp = 1 AND post THEN rate END) AS BIGINT)
            AS treat_post_micro,
        CAST(MAX(CASE WHEN grp = 0 AND NOT post THEN rate END) AS BIGINT)
            AS ctrl_pre_micro,
        CAST(MAX(CASE WHEN grp = 0 AND post THEN rate END) AS BIGINT)
            AS ctrl_post_micro,
        CAST((MAX(CASE WHEN grp = 1 AND post THEN rate END)
              - MAX(CASE WHEN grp = 1 AND NOT post THEN rate END))
             - (MAX(CASE WHEN grp = 0 AND post THEN rate END)
                - MAX(CASE WHEN grp = 0 AND NOT post THEN rate END))
             AS BIGINT) AS did_micro
    FROM m
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (SURVEY.md §2.13): purchases-per-user
    rates for an md5-parity "treatment" cohort vs control, before and
    after the timeline midpoint; DiD = (T_post − T_pre) − (C_post −
    C_pre) cancels both the group-level and period-level confounds —
    the causal-inference workhorse, here with a hash-random treatment
    so the estimand is truthfully ≈ 0 (the placebo run every DiD
    pipeline should pass before trusting a real one).

    Exactness: cohort bits are md5 parity; each cell rate folds
    floor-micro over exact (purchases, users); DiD is integer
    arithmetic on those folds.

    Scale: one (group, period) aggregate over the facts plus a 2-row
    user count — the estimator is two map-side-combinable passes.
    """
    e = load(spark, sf_dir, "events")
    b = e.agg(
        F.expr(
            "unix_micros(min(ts)) + (unix_micros(max(ts)) - unix_micros(min(ts))) DIV 2"
        ).alias("sp")
    )
    tagged = e.crossJoin(F.broadcast(b)).select(
        _md5_bit("did_", "user_id").alias("grp"),
        (F.unix_micros("ts") >= F.col("sp")).alias("post"),
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("buy"),
    )
    users = tagged.groupBy("grp").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    cells = tagged.groupBy("grp", "post").agg(F.sum("buy").alias("purchases"))
    m = cells.join(users, "grp").select(
        "grp",
        "post",
        F.expr("CAST((1000000 * purchases) DIV n_users AS BIGINT)").alias(
            "rate"
        ),
    )
    cell = lambda g, p: F.max(  # noqa: E731
        F.when((F.col("grp") == g) & (F.col("post") == p), F.col("rate"))
    )
    return m.agg(
        cell(1, False).cast("long").alias("treat_pre_micro"),
        cell(1, True).cast("long").alias("treat_post_micro"),
        cell(0, False).cast("long").alias("ctrl_pre_micro"),
        cell(0, True).cast("long").alias("ctrl_post_micro"),
        (
            (cell(1, True) - cell(1, False)) - (cell(0, True) - cell(0, False))
        )
        .cast("long")
        .alias("did_micro"),
    )


@register(
    "events_stratified_ate",
    oracle=f"""
    WITH {_SCORED_SQL},
    assigned AS (
        SELECT score,
               CAST(('0x' || substr(md5('ate_' || CAST(user_id AS VARCHAR)),
                                    1, 15)) AS BIGINT) % 2 AS treat,
               label
        FROM scored
    ),
    strata AS (
        SELECT score,
               CAST(SUM(treat) AS BIGINT) AS n_t,
               CAST(SUM(CASE WHEN treat = 1 THEN label ELSE 0 END) AS BIGINT)
                   AS conv_t,
               CAST(SUM(1 - treat) AS BIGINT) AS n_c,
               CAST(SUM(CASE WHEN treat = 0 THEN label ELSE 0 END) AS BIGINT)
                   AS conv_c
        FROM assigned GROUP BY score
        HAVING SUM(treat) > 0 AND SUM(1 - treat) > 0
    )
    SELECT score, n_t, conv_t, n_c, conv_c,
           CAST((1000000 * conv_t) // n_t - (1000000 * conv_c) // n_c
                AS BIGINT) AS effect_micro,
           CAST(SUM((n_t + n_c) * ((1000000 * conv_t) // n_t
                                   - (1000000 * conv_c) // n_c)) OVER ()
                // SUM(n_t + n_c) OVER () AS BIGINT) AS ate_micro
    FROM strata ORDER BY score
    """,
)
def events_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-stratified average treatment effect (SURVEY.md §2.13): a
    hash-random "treatment" is compared against control WITHIN each
    early-activity score stratum (the `ml_metrics._scored` propensity cohort), and
    the per-stratum conversion-rate differences combine size-weighted
    into the ATE — the stratification estimator of causal inference,
    with the common-support restriction applied honestly (strata
    lacking either arm are dropped by the same HAVING on both engines).
    Random treatment ⇒ ATE truthfully ≈ 0; the placebo gate.

    Exactness: strata cells are exact counts; effects are differences
    of floor-micro folds; the ATE is a size-weighted integer fold
    repeated per row (the calibration-table convention).

    Scale: reuses the per-user cohort aggregate; stratification runs on
    the bounded score grid.
    """
    scored = _scored(spark, sf_dir)
    assigned = scored.select(
        "score",
        _md5_bit("ate_", "user_id").alias("treat"),
        "label",
    )
    strata = (
        assigned.groupBy("score")
        .agg(
            F.sum("treat").alias("n_t"),
            F.sum(F.when(F.col("treat") == 1, F.col("label")).otherwise(0)).alias(
                "conv_t"
            ),
            F.sum(1 - F.col("treat")).alias("n_c"),
            F.sum(F.when(F.col("treat") == 0, F.col("label")).otherwise(0)).alias(
                "conv_c"
            ),
        )
        .where((F.col("n_t") > 0) & (F.col("n_c") > 0))
    )
    eff = F.expr("(1000000 * conv_t) DIV n_t - (1000000 * conv_c) DIV n_c")
    tot = strata.agg(
        F.sum((F.col("n_t") + F.col("n_c")) * eff).alias("wsum"),
        F.sum(F.col("n_t") + F.col("n_c")).alias("wtot"),
    )
    return (
        strata.crossJoin(F.broadcast(tot))
        .select(
            "score",
            "n_t",
            "conv_t",
            "n_c",
            "conv_c",
            eff.cast("long").alias("effect_micro"),
            "wsum",
            "wtot",
        )
        .select(
            "score",
            "n_t",
            "conv_t",
            "n_c",
            "conv_c",
            "effect_micro",
            F.expr("CAST(wsum DIV wtot AS BIGINT)").alias("ate_micro"),
        )
        .orderBy("score")
    )


@register(
    "source_txn_log_replay",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type ORDER BY event_type
    """,
)
def source_txn_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-log replay source (SURVEY.md §2.1): three "commits"
    stage event segments as parquet directories while an ordered JSON
    action log records add/remove actions (commit 3 both adds the
    purchase segment and REMOVES the view segment — a compaction-style
    swap); the reader folds the log (adds minus removes), reads ONLY
    the live paths, and aggregates. This is the Delta/Iceberg mechanism
    stripped to its core: the table is not a directory listing, it is
    the fold of the log — and the oracle restates the semantic result
    from the base table, so a hash match proves the fold selected
    exactly the right files.

    Exactness: commits and segments are deterministic event_type
    filters; the fold is an anti-join of adds vs removes on path.

    Scale: the log is a tiny JSON read; the data read touches only
    live segments (skipping the removed one entirely — the reader
    never lists the directory); at lake scale the same fold handles
    millions of actions as a grouped anti-join. The live-path collect
    is DRIVER-SIDE METADATA by design — every lakehouse reader plans
    its file manifest on the driver; it is bounded by the action log,
    never by the data.
    """
    stage = stage_dir("txnlog")
    e = load(spark, sf_dir, "events")
    actions = []
    for commit, (seg, adds, removes) in enumerate(
        [
            ("view", ["view"], []),
            ("click", ["click"], []),
            ("purchase", ["purchase"], ["view"]),
        ],
        start=1,
    ):
        for a in adds:
            path = os.path.join(stage, f"seg_{a}")
            e.where(F.col("event_type") == a).write.mode("overwrite").parquet(
                path
            )
            actions.append({"commit": commit, "action": "add", "path": path})
        for rm in removes:
            actions.append(
                {
                    "commit": commit,
                    "action": "remove",
                    "path": os.path.join(stage, f"seg_{rm}"),
                }
            )
    log_path = os.path.join(stage, "txn_log_json")
    local_rows(
        spark,
        [(a["commit"], a["action"], a["path"]) for a in actions],
        "commit int, action string, path string",
    ).coalesce(1).write.mode("overwrite").json(log_path)
    log = spark.read.json(log_path)
    adds_df = log.where(F.col("action") == "add").select("path")
    removes_df = log.where(F.col("action") == "remove").select("path")
    live = [
        r.path
        for r in bounded_collect(
            adds_df.join(removes_df, "path", "left_anti"),
            max_rows=10_000,
            what="txn-log live-file manifest",
        )
    ]
    live.sort()
    table = spark.read.parquet(*live)
    return (
        table.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )
