"""Round-3 extension pack #9: preference-data construction, marketing
attribution, nonparametric hypothesis testing, and a non-file streaming
source — four shapes a production training-data + analytics platform
still needed after packs 1–8.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. All patterns here are public
knowledge — DPO preference-pair construction (Rafailov et al. 2023 data
setup), multi-touch attribution (first/last/linear position credit), the
Mann–Whitney U rank-sum test (Mann & Whitney 1947), and Spark's
rate-micro-batch streaming source — expressed on the public PySpark
DataFrame / Structured Streaming API over the driver's testdata.

Hash-parity discipline (round-3 standard): rank statistics use the
average-rank×2 identity (2·avg = min_rank + max_rank under ties) so tied
ranks stay INTEGRAL; fractional position credit folds floor(1e6/n)
micro-units; scores are integer type-token-ratio micro-units; the one
streaming key reads a source whose output is fully determined by its
options (no wall clock — startTimestamp pinned to epoch 0).

Scale posture (SURVEY.md §7.6):
- Preference pairs: two rank windows over (lang, source) groups — one
  shuffle, group-local; the pair join is on the tiny per-group winners.
- Attribution: purchases×touches is a USER-keyed equi-join with a
  7-day residual range — band width is one user's week of events; the
  position window is keyed by purchase id. No global ordering anywhere.
- Mann–Whitney ranks via the two-pass distributed ranking (per-value
  counts + bucket-stitch cumulative offsets, r10) — no global sort at
  any scale.
- The rate source demonstrates a deterministic non-file streaming
  ingestion path (the bench/backfill twin of the Kafka wrapper) —
  per-batch row counts and partitioning are option-pinned.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, stage_dir


@register(
    "agg_mannwhitney_u",
    oracle="""
    WITH s AS (
        SELECT event_type, value FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ), ranked AS (
        SELECT event_type,
               2 * CAST(rank() OVER (ORDER BY value) AS BIGINT)
                 + CAST(count(*) OVER (PARTITION BY value) AS BIGINT)
                 - 1 AS rank_x2
        FROM s
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(rank_x2) AS BIGINT) AS rank_sum_x2,
           CAST(sum(rank_x2) - count(*) * (count(*) + 1) AS BIGINT) AS u_x2
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
)
def agg_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test (SURVEY.md §2.13): does the `value`
    distribution differ between click and view events? Emits per sample
    the size, rank sum, and U statistic — the standard nonparametric
    two-sample test (no normality assumption, unlike the t-test key
    `agg_ab_test_ttest` it complements).

    Exactness under ties: ranks carry the average-rank×2 identity
    2·avg_rank = 2·min_rank + tie_count − 1, an INTEGER — so rank sums
    and U (also ×2) are exact BIGINTs on both engines; the invariant
    u1 + u2 = 2·n1·n2 is asserted in tests. Consumers divide by 2 and
    normal-approximate at will.

    Scale: the two-pass distributed ranking — the fact table folds to
    (value, event_type) COUNT cells (shuffle agg, map-side combine);
    rank offsets come from the BUCKET-STITCH cumsum over the per-value
    histogram (min_rank(v) = 1 + #rows below v, so rank_x2(v) =
    2·cum_prev + tie_count + 1, all integers; the only single-task
    window is the value-range bucket grid); rank sums are then
    cell_count × rank_x2 folds — neither the fact relation nor the
    per-value histogram ever meets an unpartitioned window.
    """
    e = load(spark, sf_dir, "events")
    s = e.where(
        F.col("event_type").isin("click", "view") & F.col("value").isNotNull()
    ).select("event_type", "value")
    cells = s.groupBy("value", "event_type").agg(F.count("*").alias("cc"))
    # r10: the distinct-value histogram is NOT a value-domain grid — event
    # values are near-continuous doubles, so its cardinality tracked the
    # event count (3.3k→13.4k through one WindowExec task, caught by the
    # grid cardinality tripwire). Bucket-stitch midranks: 2-unit value
    # buckets bound the only single-task window by the VALUE RANGE
    # (0–560 → ≤281 buckets at any SF); per-value work hash-partitioned.
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_cumsum,
    )

    vgrid = bucketed_global_cumsum(
        cells.groupBy("value").agg(F.sum("cc").alias("ct")),
        "value",
        [],
        [("cum_prev", "ct")],
        bucket_bits=1,
        frame_end=-1,
    ).select(
        "value",
        (2 * F.col("cum_prev") + F.col("ct") + 1).cast("long").alias("rank_x2"),
    )
    ranked = cells.join(vgrid, "value").select("event_type", "cc", "rank_x2")
    n = F.sum("cc").cast("long")
    rank_sum = F.sum(F.col("cc") * F.col("rank_x2"))
    return (
        ranked.groupBy("event_type")
        .agg(
            n.alias("n"),
            rank_sum.cast("long").alias("rank_sum_x2"),
            (rank_sum - n * (n + 1)).cast("long").alias("u_x2"),
        )
        .orderBy("event_type")
    )


@register(
    "events_attribution_multitouch",
    oracle="""
    WITH purchases AS (
        SELECT user_id, event_id AS p_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ), touches AS (
        SELECT p.p_id, e.event_type,
               row_number() OVER (PARTITION BY p.p_id
                                  ORDER BY e.ts, e.event_id) AS pos,
               count(*) OVER (PARTITION BY p.p_id) AS n_touch
        FROM purchases p JOIN events e
          ON e.user_id = p.user_id
         AND e.event_type <> 'purchase'
         AND e.ts < p.p_ts
         AND e.ts >= p.p_ts - INTERVAL 7 DAY
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS first_touch,
           CAST(SUM(CASE WHEN pos = n_touch THEN 1 ELSE 0 END) AS BIGINT)
               AS last_touch,
           CAST(SUM(CAST(floor(1000000.0 / n_touch) AS BIGINT)) AS BIGINT)
               AS linear_credit_micro,
           CAST(count(*) AS BIGINT) AS touches
    FROM touches GROUP BY event_type ORDER BY event_type
    """,
)
def events_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution (SURVEY.md §2.13): for every purchase,
    credit the user's non-purchase events in the preceding 7 days under
    the three standard models at once — first-touch, last-touch, and
    linear (1/n per touch, folded as floor(1e6/n) micro-units so the
    fractional credit sums exactly on both engines).

    The conversion-attribution shape every marketing warehouse runs:
    purchases×touches is a USER-keyed equi-join with the 7-day lookback
    as a residual range predicate (band width = one user-week), and
    touch ordering is a window keyed by purchase id with a (ts,
    event_id) total order — deterministic under timestamp ties. At
    sf0.01: ~5.2k–5.5k touches credited per channel; signup leads
    last-touch (500) — the funnel's final step before purchase.

    Scale: no global ordering anywhere; both the join and the windows
    key on purchase/user ids. Skewed power-users salt the user band the
    same way join_salted_skew does.
    """
    e = load(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    touches = purchases.join(
        e,
        (e["user_id"] == F.col("p_user"))
        & (e["event_type"] != "purchase")
        & (e["ts"] < F.col("p_ts"))
        & (e["ts"] >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    ).select("p_id", "event_type", "ts", "event_id")
    wpos = Window.partitionBy("p_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("p_id")
    positioned = touches.select(
        "event_type",
        F.row_number().over(wpos).alias("pos"),
        F.count("*").over(wall).alias("n_touch"),
    )
    return (
        positioned.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("pos") == 1, 1).otherwise(0))
            .cast("long")
            .alias("first_touch"),
            F.sum(F.when(F.col("pos") == F.col("n_touch"), 1).otherwise(0))
            .cast("long")
            .alias("last_touch"),
            F.sum(F.floor(1000000.0 / F.col("n_touch")).cast("long"))
            .cast("long")
            .alias("linear_credit_micro"),
            F.count("*").alias("touches"),
        )
        .orderBy("event_type")
    )


@register(
    "llm_preference_pairs",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang, source,
               CAST(floor(1000000.0 * len(list_distinct(string_split(text, ' ')))
                          / len(string_split(text, ' '))) AS BIGINT) AS ttr_micro
        FROM documents
    ), ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY lang, source
                                  ORDER BY ttr_micro DESC, doc_id) AS rn_top,
               row_number() OVER (PARTITION BY lang, source
                                  ORDER BY ttr_micro ASC, doc_id) AS rn_bot,
               CAST(count(*) OVER (PARTITION BY lang, source) AS BIGINT)
                   AS n_group
        FROM scored
    )
    SELECT t.lang, t.source,
           t.doc_id AS chosen_doc_id, b.doc_id AS rejected_doc_id,
           t.ttr_micro AS chosen_score_micro, b.ttr_micro AS rejected_score_micro,
           t.ttr_micro - b.ttr_micro AS margin_micro, t.n_group
    FROM ranked t JOIN ranked b USING (lang, source)
    WHERE t.rn_top = 1 AND b.rn_bot = 1 AND t.n_group >= 2
    ORDER BY t.lang, t.source
    """,
)
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF-style training data
    (SURVEY.md §2.12): within every (lang, source) group, pair the
    highest-scoring document (chosen) with the lowest (rejected) and
    emit the pair with its score margin — the standard reduction of a
    scored corpus to preference data when no human labels exist.

    Score = type-token ratio in integer micro-units (distinct words /
    total words × 1e6, floored): one division + floor, bit-identical on
    both engines; ties broken by doc_id so chosen/rejected are unique.
    Singleton groups are excluded (a pair needs two documents). At
    sf0.01: 97 groups of which 96 yield pairs.

    Scale: two rank windows over the same (lang, source) partitioning —
    one shuffle; the final self-join touches only per-group winners
    (2 rows/group). For top-k pair mining per group, widen rn_top/rn_bot
    to k and cross the k×k block — still group-local.
    """
    d = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        F.floor(1000000.0 * F.size(F.array_distinct(words)) / F.size(words))
        .cast("long")
        .alias("ttr_micro"),
    )
    wtop = Window.partitionBy("lang", "source").orderBy(
        F.desc("ttr_micro"), F.asc("doc_id")
    )
    wbot = Window.partitionBy("lang", "source").orderBy(
        F.asc("ttr_micro"), F.asc("doc_id")
    )
    wall = Window.partitionBy("lang", "source")
    ranked = scored.select(
        "*",
        F.row_number().over(wtop).alias("rn_top"),
        F.row_number().over(wbot).alias("rn_bot"),
        F.count("*").over(wall).cast("long").alias("n_group"),
    )
    top = ranked.where((F.col("rn_top") == 1) & (F.col("n_group") >= 2)).select(
        "lang",
        "source",
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("ttr_micro").alias("chosen_score_micro"),
        "n_group",
    )
    bot = ranked.where(F.col("rn_bot") == 1).select(
        "lang",
        "source",
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("ttr_micro").alias("rejected_score_micro"),
    )
    return (
        top.join(bot, ["lang", "source"])
        .select(
            "lang",
            "source",
            "chosen_doc_id",
            "rejected_doc_id",
            "chosen_score_micro",
            "rejected_score_micro",
            (F.col("chosen_score_micro") - F.col("rejected_score_micro")).alias(
                "margin_micro"
            ),
            "n_group",
        )
        .orderBy("lang", "source")
    )


@register(
    "stream_rate_source_agg",
    oracle="""
    WITH rows_gen AS (
        SELECT CAST('1970-01-01 00:00:00' AS TIMESTAMP) AS batch_ts,
               CAST(v AS BIGINT) AS value
        FROM generate_series(0, 95) AS t(v)
    )
    SELECT CAST(value % 8 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(value) AS BIGINT) AS value_sum,
           min(batch_ts) AS batch_ts
    FROM rows_gen GROUP BY 1 ORDER BY 1
    """,
)
def stream_rate_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real non-file streaming source, hash-checked (SURVEY.md §2.9):
    Spark's `rate-micro-batch` source with every option pinned
    (startTimestamp=0, rowsPerBatch=96, advanceMillisPerBatch=1000) is
    FULLY deterministic — values 0..95 at epoch timestamp 0 — so unlike
    the file-staged streaming keys this one's output hash-matches a
    closed-form oracle. The availableNow trigger drains exactly the
    configured backlog and stops: the load-generator/backfill twin of
    the Kafka wrapper (sources/kafka.py), and the only streaming key
    proving the readStream→sink path against an exact oracle.

    The transform buckets values mod 8 and aggregates per bucket in the
    stream (complete mode), exactly as a keyed load test would. Scale:
    rowsPerBatch/numPartitions are the knobs; the aggregation is a
    standard partial-agg groupBy over the stream.
    """
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 96)
        .option("numPartitions", 8)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    out = stream.groupBy((F.col("value") % 8).cast("long").alias("bucket")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("value").cast("long").alias("value_sum"),
        F.min("timestamp").alias("batch_ts"),
    )
    sink_name = f"rate_agg_{uuid.uuid4().hex[:6]}"
    checkpoint = stage_dir("ckpt_rate_agg")
    q = (
        out.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(sink_name).orderBy("bucket")
