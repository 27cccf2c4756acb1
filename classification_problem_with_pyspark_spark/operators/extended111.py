"""Round-4 extension pack #111: transaction-log time travel (AS OF
reads) and the Friedman blocked rank test.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — snapshot isolation / time travel over an ordered action log
(the Delta/Iceberg "version as of" read: the table AT commit k is the
fold of the log's first k commits, nothing more) and the Friedman test
(rank-within-block ANOVA for k related treatments over b blocks,
Friedman 1937 — the nonparametric complement to the registry's
Mann-Whitney/Kruskal-style and two-way-ANOVA keys) — re-expressed on
the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-4 standard): the time-travel fold is set
algebra on commit-stamped paths (adds minus removes, both ≤ k) and the
result restates exactly from the base table; Friedman ranks are doubled
average ranks (integers even under ties), and the χ²_F statistic folds
as one truncating division over exact BIGINT rank sums.

Scale posture (SURVEY.md §7.6): the AS OF fold is driver-side METADATA
bounded by the action log (the same manifest-planning shape every
lakehouse reader has); Friedman is one groupBy to cells, one rank
window per block (k rows each), one bounded reduce.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import (
    bounded_collect,
    load,
    local_rows,
    stage_dir,
)

ASOF_COMMIT = 2  # read the table as of this commit (before the swap)


@register(
    "sink_snapshot_time_travel",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE event_type IN ('view', 'click')
    GROUP BY event_type ORDER BY event_type
    """,
)
def sink_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a transaction log (SURVEY.md §2.1): commits 1-3
    stage event segments (1: +view, 2: +click, 3: +purchase −view, the
    compaction swap), and the reader reconstructs the table AS OF
    commit {ASOF_COMMIT} by folding ONLY log actions with
    commit ≤ {ASOF_COMMIT}: adds minus removes → live = (view, click).
    The companion `source_txn_log_replay` reads the LATEST snapshot of
    the same mechanism (click, purchase); together they pin that a
    version read is a log-prefix fold, not a directory listing — the
    Delta/Iceberg "VERSION AS OF" semantic stripped to its core. The
    oracle restates the expected snapshot from the base table, so a
    hash match proves the prefix fold selected exactly the right files.

    Exactness: segments are deterministic event_type filters; the fold
    is an anti-join of prefix-adds vs prefix-removes on path.

    Scale: the log read and live-path planning are driver-side
    metadata bounded by the action log (every lakehouse reader plans
    its manifest on the driver); the data read touches only segments
    live AT the requested version — time travel costs planning, not a
    second copy of the data.
    """
    stage = stage_dir("timetravel")
    e = load(spark, sf_dir, "events")
    actions = []
    for commit, (adds, removes) in enumerate(
        [
            (["view"], []),
            (["click"], []),
            (["purchase"], ["view"]),
        ],
        start=1,
    ):
        for a in adds:
            path = os.path.join(stage, f"seg_{a}")
            e.where(F.col("event_type") == a).coalesce(4).write.mode(
                "overwrite"
            ).parquet(path)
            actions.append((commit, "add", path))
        for rm in removes:
            actions.append((commit, "remove", os.path.join(stage, f"seg_{rm}")))
    log_path = os.path.join(stage, "txn_log_json")
    local_rows(
        spark, actions, "commit int, action string, path string"
    ).coalesce(1).write.mode("overwrite").json(log_path)

    log = spark.read.json(log_path).where(F.col("commit") <= ASOF_COMMIT)
    adds_df = log.where(F.col("action") == "add").select("path")
    removes_df = log.where(F.col("action") == "remove").select("path")
    live = sorted(
        r.path
        for r in bounded_collect(
            adds_df.join(removes_df, "path", "left_anti"),
            max_rows=10_000,
            what="snapshot-log live-file manifest",
        )
    )
    table = spark.read.parquet(*live)
    return (
        table.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_friedman_test",
    oracle="""
    WITH cells0 AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS block,
               o_orderpriority AS treatment,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ),
    kt AS (SELECT count(DISTINCT treatment) AS kt FROM cells0),
    complete AS (  -- Friedman needs every treatment in every block
        SELECT block FROM cells0, kt GROUP BY block, kt
        HAVING count(*) = kt
    ),
    cells AS (
        SELECT c.* FROM cells0 c JOIN complete USING (block)
    ),
    ranked AS (
        SELECT block, treatment,
               2 * rank() OVER (PARTITION BY block ORDER BY cents)
                 + count(*) OVER (PARTITION BY block, cents) - 1 AS rank2
        FROM cells
    ),
    sums AS (
        SELECT treatment,
               CAST(count(*) AS BIGINT) AS b,
               CAST(SUM(rank2) AS BIGINT) AS rank_sum2
        FROM ranked GROUP BY treatment
    ),
    consts AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(max(b) AS BIGINT) AS b,
               CAST(SUM(rank_sum2 * rank_sum2) AS BIGINT) AS ssq2
        FROM sums
    )
    SELECT s.treatment,
           s.b AS n_blocks,
           s.rank_sum2,
           CAST((1000000 * s.rank_sum2) // (2 * s.b) AS BIGINT)
               AS mean_rank_micro,
           CAST((3000000 * c.ssq2) // (c.b * c.k * (c.k + 1))
                - 3000000 * c.b * (c.k + 1) AS BIGINT) AS chi2_f_micro
    FROM sums s, consts c
    ORDER BY s.treatment
    """,
)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman blocked rank test (SURVEY.md §2.4): within every order
    month (block), rank the five order priorities (treatments) by total
    revenue, then test whether any priority SYSTEMATICALLY out-ranks
    the others: χ²_F = 12/(bk(k+1))·ΣR_j² − 3b(k+1), df = k−1. The
    blocked design removes month-level level shifts (seasonality,
    volume drift) that would swamp a pooled comparison — the
    nonparametric two-way-ANOVA companion to the registry's
    Mann-Whitney (two groups, no blocks) and two-way ANOVA (parametric)
    keys. Near-zero χ²_F here pins that priority labels are
    revenue-exchangeable in this fixture.

    Exactness: cell revenues are exact cents; ranks are DOUBLED average
    ranks (2·rank + ties − 1 — integer even when cells tie); ΣR² folds
    as ·/4-free algebra on the doubled sums with one truncating
    division; ties in cents across priorities within a month are
    handled, not assumed away.

    Scale: groupBy to b·k cells, a rank window over k rows per block,
    then a k-row reduce — the fact table is touched once.
    """
    o = load(spark, sf_dir, "orders")
    cells0 = (
        o.select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("block"),
            F.col("o_orderpriority").alias("treatment"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("block", "treatment")
        .agg(F.sum("c").alias("cents"))
        # r12 (guide §5): cells0 feeds kt, the completeness filter and the
        # ranked cells — one checkpoint of the month×priority grid keeps
        # the orders scan at ONE pass (was 6 in the before-plan).
        .localCheckpoint(eager=False)
    )
    kt = cells0.agg(F.countDistinct("treatment").alias("kt"))
    complete = (
        cells0.groupBy("block")
        .agg(F.count("*").alias("nt"))
        .crossJoin(F.broadcast(kt))
        .where(F.col("nt") == F.col("kt"))
        .select("block")
    )
    cells = cells0.join(complete, "block")
    w_rank = Window.partitionBy("block").orderBy("cents")
    w_tie = Window.partitionBy("block", "cents")
    ranked = cells.select(
        "block",
        "treatment",
        (2 * F.rank().over(w_rank) + F.count("*").over(w_tie) - 1).alias("rank2"),
    )
    sums = ranked.groupBy("treatment").agg(
        F.count("*").alias("b"),
        F.sum("rank2").cast("long").alias("rank_sum2"),
    )
    consts = sums.agg(
        F.count("*").cast("long").alias("k"),
        F.max("b").cast("long").alias("bb"),
        F.sum(F.col("rank_sum2") * F.col("rank_sum2")).cast("long").alias("ssq2"),
    )
    return (
        sums.crossJoin(F.broadcast(consts))
        .select(
            "treatment",
            F.col("b").cast("long").alias("n_blocks"),
            "rank_sum2",
            F.expr("CAST((1000000 * rank_sum2) DIV (2 * b) AS BIGINT)").alias(
                "mean_rank_micro"
            ),
            F.expr(
                "CAST((3000000 * ssq2) DIV (bb * k * (k + 1))"
                " - 3000000 * bb * (k + 1) AS BIGINT)"
            ).alias("chi2_f_micro"),
        )
        .orderBy("treatment")
    )
