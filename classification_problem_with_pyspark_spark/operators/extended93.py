"""Round-3 extension pack #93: uncertainty margin sampling and the
Little's-law audit.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — margin-based active learning (label next the examples
whose top-two class scores are closest — Scheffer et al.'s margin
sampling, the workhorse uncertainty strategy every labeling loop
ships) and Little's law auditing (L = λW over a window; computing BOTH
sides from the same event log exposes measurement bias at the window
edges — the queueing sanity check SRE capacity reviews run) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): margins reuse the pack-88
integer score model (top-1 minus top-2 under the (score DESC, class)
total order); the selection is bottom-SAMPLE_B by (margin ASC,
vec_id). Little's sides fold exact integer second-sums: L̄ from the
window-clipped occupancy integral, λW from in-window arrivals times
the mean FULL duration — their gap is the edge-truncation bias,
reported in micro.

Scale posture (SURVEY.md §7.6): margins are the pack-88 scan + one
rank; the occupancy integral is interval clipping + a sum (no
sweep-line needed for a time-AVERAGE — the integral is Σ clipped
durations), all map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.plans.global_rank import (
    bucketed_global_topk,
)
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

SAMPLE_B = 50  # labeling budget per active-learning round
MARGIN_CLASSES = 10
MARGIN_BOOST = 400


@register(
    "ml_uncertainty_margin_sampling",
    oracle=f"""
    WITH scored AS (
        SELECT e.vec_id, CAST(e.label AS BIGINT) AS y, c.cls,
               CAST(('0x' || substr(md5('tk_' || CAST(e.vec_id AS VARCHAR)
                         || '_' || CAST(c.cls AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 1000
                   + CASE WHEN c.cls = e.label THEN {MARGIN_BOOST} ELSE 0 END
                   AS score
        FROM embeddings e,
             (SELECT unnest(range({MARGIN_CLASSES})) AS cls) c
    ),
    ranked AS (
        SELECT vec_id, y, cls, score,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cls) AS rnk
        FROM scored
    ),
    margins AS (
        SELECT vec_id, MAX(y) AS y,
               CAST(MAX(CASE WHEN rnk = 1 THEN score END)
                    - MAX(CASE WHEN rnk = 2 THEN score END) AS BIGINT)
                   AS margin
        FROM ranked GROUP BY vec_id
    ),
    selected AS (
        SELECT vec_id, y, margin,
               row_number() OVER (ORDER BY margin, vec_id) AS pick
        FROM margins
    )
    SELECT y AS label,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(MIN(margin) AS BIGINT) AS min_margin,
           CAST(MAX(margin) AS BIGINT) AS max_margin,
           CAST(SUM(margin) AS BIGINT) AS margin_sum
    FROM selected WHERE pick <= {SAMPLE_B}
    GROUP BY y
    ORDER BY label
    """,
)
def ml_uncertainty_margin_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin sampling (SURVEY.md §2.11): score every row against all
    {MARGIN_CLASSES} classes (the pack-88 integer score model, reused
    deliberately — one synthetic model, many eval/selection keys),
    compute the top-1 − top-2 margin, and select the {SAMPLE_B}
    LOWEST-margin rows for labeling — Scheffer's margin strategy, the
    uncertainty workhorse of every active-learning loop, reported as
    the per-true-label census of the selected batch (the view that
    reveals whether "uncertain" is secretly "one confusing class").

    Exactness: integer scores, ranks, margins; the selection order
    (margin ASC, vec_id) is total.

    Scale: one scores scan + a per-row rank bounded by the class
    count + the bottom-B selection as a bucket-stitch top-k (r9: the
    margins table is ENTITY-scale — one row per vector — so the former
    whole-relation rank was one task; now only head margin-value
    buckets are ranked, hash-partitioned, with the bucket-grid cumsum
    the only single-task window).
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("y")
    )
    cls = spark.range(MARGIN_CLASSES).select(F.col("id").cast("long").alias("cls"))
    score = (
        md5_long(
            F.concat(
                F.lit("tk_"), F.col("vec_id").cast("string"), F.lit("_"), F.col("cls").cast("string")
            )
        )
        % 1000
        + F.when(F.col("cls") == F.col("y"), MARGIN_BOOST).otherwise(0)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), "cls")
    ranked = (
        e.crossJoin(F.broadcast(cls))
        .select("vec_id", "y", "cls", score.alias("score"))
        .select("vec_id", "y", "score", F.row_number().over(w).alias("rnk"))
    )
    margins = ranked.groupBy("vec_id").agg(
        F.max("y").alias("y"),
        (
            F.max(F.when(F.col("rnk") == 1, F.col("score")))
            - F.max(F.when(F.col("rnk") == 2, F.col("score")))
        )
        .cast("long")
        .alias("margin"),
    )
    return (
        bucketed_global_topk(
            margins, "margin", ["vec_id"], SAMPLE_B, descending=False, out="pick"
        )
        .groupBy(F.col("y").alias("label"))
        .agg(
            F.count("*").alias("n_selected"),
            F.min("margin").cast("long").alias("min_margin"),
            F.max("margin").cast("long").alias("max_margin"),
            F.sum("margin").cast("long").alias("margin_sum"),
        )
        .orderBy("label")
    )


@register(
    "events_littles_law_audit",
    oracle="""
    WITH bounds AS (
        SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT) + 86400 AS w_lo,
               CAST(floor(epoch(MAX(ts))) AS BIGINT) - 86400 AS w_hi
        FROM events
    ),
    iv AS (  -- the pack-45 activity intervals
        SELECT CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT)
                   + CAST(round(value * 100) AS BIGINT) % 3600 + 60 AS e
        FROM events
    ),
    sides AS (
        SELECT
            CAST(SUM(greatest(0, least(iv.e, b.w_hi) - greatest(iv.s, b.w_lo)))
                 AS BIGINT) AS occupancy_s,
            CAST(SUM(CASE WHEN iv.s BETWEEN b.w_lo AND b.w_hi
                          THEN 1 ELSE 0 END) AS BIGINT) AS arrivals,
            CAST(SUM(CASE WHEN iv.s BETWEEN b.w_lo AND b.w_hi
                          THEN iv.e - iv.s ELSE 0 END) AS BIGINT)
                AS arrival_duration_s,
            CAST(MAX(b.w_hi - b.w_lo) AS BIGINT) AS window_s
        FROM iv, bounds b
    )
    SELECT occupancy_s, arrivals, arrival_duration_s, window_s,
           CAST((1000000 * occupancy_s) // window_s AS BIGINT)
               AS l_avg_micro,
           CAST((1000000 * arrival_duration_s) // window_s AS BIGINT)
               AS lambda_w_micro,
           CAST((1000000 * occupancy_s) // window_s
                - (1000000 * arrival_duration_s) // window_s AS BIGINT)
               AS edge_bias_micro
    FROM sides
    """,
)
def events_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's-law audit (SURVEY.md §2.4): compute BOTH sides of
    L = λW from the same activity intervals (the pack-45 duration
    rule) over an interior window (one day trimmed from each edge) —
    the left side as the window-clipped occupancy integral divided by
    the window, the right as in-window arrivals times their mean FULL
    duration over the window. In steady state they agree; their gap
    is exactly the edge-truncation bias (intervals straddling the
    window boundaries count partially in L but fully — or not at
    all — in λW), which is the measurement error this audit exists
    to expose before anyone sizes a fleet from either number alone.

    Exactness: integer epoch seconds; interval clipping is
    greatest/least algebra; both sides fold floor-micro division by
    the same window.

    Scale: the time-AVERAGE of concurrency needs NO sweep line —
    ∫L dt = Σ clipped durations — so the whole audit is one scan
    with min/max bounds broadcast. The instantaneous-peak question
    is the sweep-line key (`events_peak_concurrency`); the average
    is this sum.
    """
    e = load(spark, sf_dir, "events")
    t = F.unix_timestamp("ts").cast("long")
    bounds = e.agg(
        (F.min(t) + 86400).alias("w_lo"),
        (F.max(t) - 86400).alias("w_hi"),
    )
    iv = e.select(
        t.alias("s"),
        (t + F.expr("CAST(round(value * 100) AS BIGINT) % 3600") + 60).alias("e"),
    )
    sides = iv.crossJoin(F.broadcast(bounds)).agg(
        F.sum(
            F.greatest(
                F.lit(0),
                F.least(F.col("e"), F.col("w_hi"))
                - F.greatest(F.col("s"), F.col("w_lo")),
            )
        )
        .cast("long")
        .alias("occupancy_s"),
        F.sum(
            F.when(F.col("s").between(F.col("w_lo"), F.col("w_hi")), 1).otherwise(0)
        )
        .cast("long")
        .alias("arrivals"),
        F.sum(
            F.when(
                F.col("s").between(F.col("w_lo"), F.col("w_hi")),
                F.col("e") - F.col("s"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("arrival_duration_s"),
        F.max(F.col("w_hi") - F.col("w_lo")).cast("long").alias("window_s"),
    )
    return sides.select(
        "occupancy_s",
        "arrivals",
        "arrival_duration_s",
        "window_s",
        F.expr("CAST((1000000 * occupancy_s) DIV window_s AS BIGINT)").alias(
            "l_avg_micro"
        ),
        F.expr(
            "CAST((1000000 * arrival_duration_s) DIV window_s AS BIGINT)"
        ).alias("lambda_w_micro"),
        F.expr(
            "CAST((1000000 * occupancy_s) DIV window_s "
            "- (1000000 * arrival_duration_s) DIV window_s AS BIGINT)"
        ).alias("edge_bias_micro"),
    )
