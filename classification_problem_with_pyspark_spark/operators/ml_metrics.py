"""Exact model-evaluation metrics (SURVEY.md §2.11): the evaluation layer
of the reference's classification workflow — curves, AUCs, operating
points, calibration, agreement and per-class reports — as hash-checked
integer contracts.

Provenance note (SURVEY.md §0): /root/reference was EMPTY when these keys
were written; no file:line citations into it are possible. The patterns
are public knowledge — ROC analysis and the rank-sum AUC with midrank
ties (Hanley & McNeil 1982), the Poisson bootstrap, the Brier score (1950)
and Murphy's decomposition (1973), McNemar's test (1947), Cohen's kappa
(1960) and its quadratic weighting, Krippendorff's alpha, the Matthews
correlation (1975), lift tables, group-fairness gaps (Hardt et al. 2016)
and NDCG (Järvelin & Kekäläinen 2002) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

A trained MLlib model can never hash-match a SQL oracle (``ml.py``'s keys
are rows-only), so the models these keys grade are DETERMINISTIC,
data-derived stand-ins that both engines re-derive bit-identically; the
metric pipeline, not the predictor, is the product. Each stand-in has one
Spark-side definition here:
- the early-activity propensity cohort (``_scored``): score = a user's
  event count in the first ``SCORE_HOURS`` after enrollment, label =
  first purchase within ``LABEL_HOURS`` (AUC ≈ 0.58 at sf0.01/sf0.1);
- the md5 stand-in predictor over ``embeddings`` (``_stand_in_hash``,
  ``_flipped``): truth, except on every ``FLIP_MOD``-th row by the hash
  of a per-key prefix;
- the Brier forecast (``_brier_forecast``) and the per-class scores
  (``_class_scores``) built on that hash;
- the n-gram language-ID heuristic of ``llm_langid`` (``_langid_votes``).

Hash-parity discipline: scores, labels and counts are exact integers;
cumulative counts come from window sums over bounded grids; every rate
folds as a floor-micro (1e6-scaled BIGINT) division, and the few closing
double formulas ROUND(·, 6) on both sides.

Scale posture (SURVEY.md §7.6): the stand-in build is the only fact-sized
work; every metric after it runs on a bounded grid (distinct scores,
classes², deciles, groups), so the shuffles are O(grid), not O(rows).
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.operators.extended26 import (
    _POISSON_CDF_MICRO,
)
from classification_problem_with_pyspark_spark.operators.llm import (
    LANG_PROFILES,
    _LANGID_CASE_SQL,
    _langid_score_sql,
    langid_columns,
    llm_similarity_topk,
)
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum, grid_rank
from classification_problem_with_pyspark_spark.plans.global_rank import (
    bucketed_global_rank,
    bucketed_global_topk,
    closed_form_ntile,
)
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows

SCORE_HOURS = 6  # early-activity scoring window after enrollment
LABEL_HOURS = 24  # conversion horizon defining the positive label
COST_FP = 1  # cost units per false positive (needless outreach)
COST_FN = 8  # cost units per false negative (missed conversion)
AUC_B = 32  # bootstrap replicates for the AUC CI
N_CLASSES = 10  # embeddings.label domain is 0..9 (FIXTURES.md)
FLIP_MOD = 4  # a stand-in predictor errs on every 4th row by hash
CLASS_BOOST = 400  # the truth's boost in the per-class scores (md5 % 1000)
LIFT_K = 10  # deciles
LIFT_BOOST = 400_000  # score boost for the positive class (stand-in model)
N_GROUPS = 3  # protected-attribute domain in the fairness audit
CURVE_FRACTIONS = (10, 20, 30, 40, 50, 60, 70, 80, 90, 100)
QWK_K = 5  # ordinal scale 0..4 (labels 0-9 collapsed by DIV 2)
QWK_FLIP_MOD = 3  # the stand-in rater drifts ±1 on every 3rd row
TOPK_K = 3
SAMPLE_B = 50  # labeling budget per active-learning round
N_CATS = 3
RATER_NOISE_MOD = 4  # each rater deviates from truth on every 4th unit

# ---------------------------------------------------------------------------
# The early-activity propensity cohort: (user_id, score, label)
# ---------------------------------------------------------------------------

_SCORED_SQL = f"""
    u AS (
        SELECT user_id, epoch_us(min(ts)) AS t0,
               epoch_us(min(ts) FILTER (event_type = 'purchase')) AS fp
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT e.user_id, CAST(count(*) AS BIGINT) AS score
        FROM events e JOIN u ON e.user_id = u.user_id
        WHERE epoch_us(e.ts) < u.t0 + {SCORE_HOURS} * 3600000000
        GROUP BY e.user_id
    ),
    scored AS (
        SELECT u.user_id, COALESCE(s.score, 0) AS score,
               CASE WHEN fp IS NOT NULL
                         AND fp < t0 + {LABEL_HOURS} * 3600000000
                    THEN 1 ELSE 0 END AS label
        FROM u LEFT JOIN s ON u.user_id = s.user_id
    )
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("fp"),
    )
    s = (
        e.select("user_id", F.unix_micros("ts").alias("tu"))
        .join(u.select("user_id", "t0"), "user_id")
        .where(F.col("tu") < F.col("t0") + SCORE_HOURS * 3600000000)
        .groupBy("user_id")
        .agg(F.count("*").alias("score"))
    )
    label = (
        F.col("fp").isNotNull()
        & (F.col("fp") < F.col("t0") + LABEL_HOURS * 3600000000)
    ).cast("long")
    return u.join(s, "user_id", "left").select(
        "user_id",
        F.coalesce("score", F.lit(0)).alias("score"),
        label.alias("label"),
    )


@register(
    "ml_roc_curve_threshold",
    oracle=f"""
    WITH {_SCORED_SQL},
    tot AS (
        SELECT CAST(SUM(label) AS BIGINT) AS pos,
               CAST(SUM(1 - label) AS BIGINT) AS neg
        FROM scored
    ),
    grid AS (
        SELECT score, CAST(SUM(label) AS BIGINT) AS p,
               CAST(SUM(1 - label) AS BIGINT) AS n
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT score,
               SUM(p) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS tp,
               SUM(n) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS fp
        FROM grid
    )
    SELECT score AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(pos - tp AS BIGINT) AS fn, CAST(neg - fp AS BIGINT) AS tn,
           CAST((1000000 * tp) // pos AS BIGINT) AS tpr_micro,
           CAST((1000000 * fp) // neg AS BIGINT) AS fpr_micro,
           CAST((1000000 * tp) // (tp + fp) AS BIGINT) AS precision_micro
    FROM cum, tot ORDER BY threshold DESC
    """,
)
def ml_roc_curve_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC / PR curve points (SURVEY.md §2.11): for every distinct
    score threshold t, the confusion-matrix counts of the classifier
    "predict positive iff score ≥ t", plus TPR/FPR/precision in exact
    floor-micro units — the evaluation curve BinaryClassificationEvaluator
    computes, re-expressed as a hash-checkable relational contract over
    the deterministic early-activity propensity model.

    Exactness: counts cumulate over the distinct-score grid with a
    growing window frame (Spark evaluates those incrementally); every
    rate is an integer division.

    Scale: the cohort build is the only fact-sized work; the curve has
    one row per distinct score — bounded by the score range.
    """
    scored = _scored(spark, sf_dir)
    tot = scored.agg(
        F.sum("label").alias("pos"),
        F.sum(1 - F.col("label")).alias("neg"),
    )
    grid = scored.groupBy("score").agg(
        F.sum("label").alias("p"),
        F.sum(1 - F.col("label")).alias("n"),
    )
    cum = grid_cumsum(
        grid, [F.desc("score")], [("tp", "p"), ("fp", "n")], keep=["score"]
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("score").alias("threshold"),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            (F.col("pos") - F.col("tp")).cast("long").alias("fn"),
            (F.col("neg") - F.col("fp")).cast("long").alias("tn"),
            F.expr("(1000000 * tp) DIV pos").alias("tpr_micro"),
            F.expr("(1000000 * fp) DIV neg").alias("fpr_micro"),
            F.expr("(1000000 * tp) DIV (tp + fp)").alias("precision_micro"),
        )
        .orderBy(F.desc("threshold"))
    )


@register(
    "ml_auc_exact",
    oracle=f"""
    WITH {_SCORED_SQL},
    grid AS (
        SELECT score, CAST(count(*) AS BIGINT) AS c,
               CAST(SUM(label) AS BIGINT) AS p
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT score, c, p,
               COALESCE(SUM(c) OVER (ORDER BY score
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS before
        FROM grid
    ),
    agg AS (
        SELECT CAST(SUM(p * (2 * before + c + 1)) AS BIGINT) AS r1_2,
               CAST(SUM(p) AS BIGINT) AS n1,
               CAST(SUM(c - p) AS BIGINT) AS n0
        FROM cum
    )
    SELECT n1 AS n_pos, n0 AS n_neg, r1_2 AS rank_sum_x2,
           (1000000 * (r1_2 - n1 * (n1 + 1))) // (2 * n1 * n0) AS auc_micro
    FROM agg
    """,
)
def ml_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware AUC (SURVEY.md §2.11) via the rank-sum identity
    AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀), with R₁ the positives' midrank sum —
    the Mann-Whitney correspondence, computed in ×2-integral midranks
    (per score group, the doubled midrank sum is p·(2·before + c + 1),
    an exact BIGINT; the agg_mannwhitney_u tie discipline) so AUC folds
    as one integer division. At sf0.01 the early-activity model scores
    AUC ≈ 0.58 — a real, reproducible signal, not a coin flip.

    Scale: O(n log n) where the naive positive×negative pair count is
    O(n²) — the whole statistic reduces to one pass over the bounded
    distinct-score grid after the cohort groupBy.
    """
    scored = _scored(spark, sf_dir)
    grid = scored.groupBy("score").agg(
        F.count("*").alias("c"),
        F.sum("label").alias("p"),
    )
    cum = grid_cumsum(
        grid,
        ["score"],
        [("before", "c")],
        keep=["score", "c", "p"],
        frame_end=-1,
    )
    agg = cum.agg(
        F.sum(
            F.col("p") * (2 * F.col("before") + F.col("c") + 1)
        ).alias("r1_2"),
        F.sum("p").alias("n1"),
        F.sum(F.col("c") - F.col("p")).alias("n0"),
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        F.col("r1_2").cast("long").alias("rank_sum_x2"),
        F.expr(
            "(1000000 * (r1_2 - n1 * (n1 + 1))) DIV (2 * n1 * n0)"
        ).alias("auc_micro"),
    )


@register(
    "ml_calibration_by_score",
    oracle=f"""
    WITH {_SCORED_SQL},
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all,
               CAST(SUM(label) AS BIGINT) AS p_all
        FROM scored
    )
    SELECT score,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           CAST((1000000 * SUM(label)) // count(*) AS BIGINT) AS pos_rate_micro,
           CAST((1000000 * p_all) // n_all AS BIGINT) AS base_rate_micro,
           CAST((1000000 * SUM(label) * n_all) // (count(*) * p_all) AS BIGINT)
               AS lift_micro
    FROM scored, tot
    GROUP BY score, n_all, p_all ORDER BY score
    """,
)
def ml_calibration_by_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table per score value (SURVEY.md §2.11): observed
    conversion rate at each score level against the cohort base rate,
    with multiplicative lift — the calibration view that tells you
    whether "score 4" MEANS anything (a well-ordered model shows
    monotone-ish pos_rate in score; lift > 1e6 marks the
    better-than-base segments a targeting rule would keep).

    Exactness: rates and lift fold as floor-micro divisions of exact
    counts; the base rate repeats per row by construction (one bounded
    cross join), keeping every row self-contained for downstream
    consumers.

    Scale: one groupBy on the bounded score grid after the cohort
    build; the totals row broadcasts.
    """
    scored = _scored(spark, sf_dir)
    tot = scored.agg(
        F.count("*").alias("n_all"),
        F.sum("label").alias("p_all"),
    )
    return (
        scored.crossJoin(F.broadcast(tot))
        .groupBy("score", "n_all", "p_all")
        .agg(
            F.count("*").alias("n"),
            F.sum("label").alias("n_pos"),
            F.expr("(1000000 * SUM(label)) DIV count(*)").alias(
                "pos_rate_micro"
            ),
        )
        .select(
            "score",
            "n",
            "n_pos",
            "pos_rate_micro",
            F.expr("(1000000 * p_all) DIV n_all").alias("base_rate_micro"),
            F.expr("(1000000 * n_pos * n_all) DIV (n * p_all)").alias(
                "lift_micro"
            ),
        )
        .orderBy("score")
    )


@register(
    "ml_threshold_youden",
    oracle=f"""
    WITH {_SCORED_SQL},
    tot AS (
        SELECT CAST(SUM(label) AS BIGINT) AS pos,
               CAST(SUM(1 - label) AS BIGINT) AS neg
        FROM scored
    ),
    grid AS (
        SELECT score, CAST(SUM(label) AS BIGINT) AS p,
               CAST(SUM(1 - label) AS BIGINT) AS n
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT score,
               SUM(p) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS tp,
               SUM(n) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS fp
        FROM grid
    ),
    j AS (
        SELECT score AS threshold,
               CAST((1000000 * tp) // pos AS BIGINT) AS tpr_micro,
               CAST((1000000 * fp) // neg AS BIGINT) AS fpr_micro,
               CAST((1000000 * tp) // pos - (1000000 * fp) // neg
                    AS BIGINT) AS youden_j_micro
        FROM cum, tot
    )
    SELECT threshold, tpr_micro, fpr_micro, youden_j_micro
    FROM j
    ORDER BY youden_j_micro DESC, threshold
    LIMIT 1
    """,
)
def ml_threshold_youden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden-J operating point (SURVEY.md §2.11): the single threshold
    maximizing J = TPR − FPR on the scored cohort — the informedness-
    optimal cut every deployed binary classifier needs chosen AFTER
    `ml_roc_curve_threshold` draws the curve. One row out: the chosen
    threshold and its TPR/FPR/J. Reuses the driver-verified `_scored`
    cohort and cumulative grid verbatim, so the two keys can
    never disagree about the curve they share; the argmax tie order
    is (J DESC, threshold ASC) — at equal J prefer the lower
    threshold (higher recall), stated as the contract.

    Exactness: J folds two floor-micro divisions; the pick is a total
    order.

    Scale: the grid is bounded by the score RANGE (distinct integer
    scores), not the row count — the argmax is a 1-row LIMIT over a
    tiny relation; everything fact-sized happened in the cohort
    build, which is two map-side-combinable aggregations.
    """
    scored = _scored(spark, sf_dir)
    tot = scored.agg(
        F.sum("label").cast("long").alias("pos"),
        F.sum(1 - F.col("label")).cast("long").alias("neg"),
    )
    grid = scored.groupBy("score").agg(
        F.sum("label").cast("long").alias("p"),
        F.sum(1 - F.col("label")).cast("long").alias("n"),
    )
    cum = grid_cumsum(
        grid, [F.desc("score")], [("tp", "p"), ("fp", "n")], keep=["score"]
    )
    j = cum.crossJoin(F.broadcast(tot)).select(
        F.col("score").alias("threshold"),
        F.expr("CAST((1000000 * tp) DIV pos AS BIGINT)").alias("tpr_micro"),
        F.expr("CAST((1000000 * fp) DIV neg AS BIGINT)").alias("fpr_micro"),
        F.expr(
            "CAST((1000000 * tp) DIV pos - (1000000 * fp) DIV neg AS BIGINT)"
        ).alias("youden_j_micro"),
    )
    return j.orderBy(F.desc("youden_j_micro"), "threshold").limit(1)


@register(
    "ml_cost_sensitive_threshold",
    oracle=f"""
    WITH {_SCORED_SQL},
    tot AS (
        SELECT CAST(SUM(label) AS BIGINT) AS pos,
               CAST(SUM(1 - label) AS BIGINT) AS neg
        FROM scored
    ),
    grid AS (
        SELECT score, CAST(SUM(label) AS BIGINT) AS p,
               CAST(SUM(1 - label) AS BIGINT) AS n
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT score,
               SUM(p) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS tp,
               SUM(n) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS fp
        FROM grid
    ),
    costs AS (
        SELECT score AS threshold,
               CAST(fp AS BIGINT) AS fp,
               CAST(pos - tp AS BIGINT) AS fn,
               CAST({COST_FP} * fp + {COST_FN} * (pos - tp) AS BIGINT)
                   AS expected_cost
        FROM cum, tot
    )
    SELECT threshold, fp, fn, expected_cost
    FROM costs
    ORDER BY expected_cost, threshold
    LIMIT 1
    """,
)
def ml_cost_sensitive_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive threshold (SURVEY.md §2.11): the operating point
    minimizing total expected cost under an asymmetric cost matrix
    (COST_FP per needless outreach, COST_FN per missed conversion —
    Elkan 2001) over the driver-verified `_scored` grid. The
    third member of the operating-point family: `ml_roc_curve_threshold`
    draws the curve, `ml_threshold_youden` optimizes statistics, this
    key optimizes MONEY — and with FN costing 8× FP it provably picks
    a more permissive threshold than Youden (asserted in tests), which
    is the entire argument for making costs explicit.

    Exactness: integer error counts × integer literal costs; the
    argmin tie order is (cost, threshold ASC).

    Scale: identical to the ROC key — the cost scan is a window over
    the distinct-score grid, bounded by the score range.
    """
    scored = _scored(spark, sf_dir)
    tot = scored.agg(
        F.sum("label").cast("long").alias("pos"),
        F.sum(1 - F.col("label")).cast("long").alias("neg"),
    )
    grid = scored.groupBy("score").agg(
        F.sum("label").cast("long").alias("p"),
        F.sum(1 - F.col("label")).cast("long").alias("n"),
    )
    cum = grid_cumsum(
        grid, [F.desc("score")], [("tp", "p"), ("fp", "n")], keep=["score"]
    )
    costs = cum.crossJoin(F.broadcast(tot)).select(
        F.col("score").alias("threshold"),
        F.col("fp").cast("long").alias("fp"),
        (F.col("pos") - F.col("tp")).cast("long").alias("fn"),
        (COST_FP * F.col("fp") + COST_FN * (F.col("pos") - F.col("tp")))
        .cast("long")
        .alias("expected_cost"),
    )
    return costs.orderBy("expected_cost", "threshold").limit(1)


@register(
    "ml_ks_separation_exact",
    oracle=f"""
    WITH {_SCORED_SQL},
    tot AS (
        SELECT CAST(SUM(label) AS BIGINT) AS n1,
               CAST(SUM(1 - label) AS BIGINT) AS n0
        FROM scored
    ),
    grid AS (
        SELECT score, CAST(SUM(label) AS BIGINT) AS p,
               CAST(SUM(1 - label) AS BIGINT) AS q
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT score,
               SUM(p) OVER (ORDER BY score
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c1,
               SUM(q) OVER (ORDER BY score
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c0
        FROM grid
    ),
    gaps AS (
        SELECT score, c1, c0,
               abs(c1 * t.n0 - c0 * t.n1) AS cross_gap
        FROM cum, tot t
    ),
    best AS (
        SELECT score, c1, c0, cross_gap,
               row_number() OVER (ORDER BY cross_gap DESC, score) AS rk
        FROM gaps
    )
    SELECT b.score AS ks_score,
           CAST(b.c1 AS BIGINT) AS cum_pos,
           CAST(b.c0 AS BIGINT) AS cum_neg,
           CAST((1000000 * b.cross_gap) // (t.n1 * t.n0) AS BIGINT)
               AS ks_micro
    FROM best b, tot t WHERE b.rk = 1
    """,
)
def ml_ks_separation_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS scorecard separation (SURVEY.md §2.11): the maximum gap
    between the positive-class and negative-class score CDFs —
    KS = max_s |F₁(s) − F₀(s)| — the scorecard-strength number credit
    risk has quoted since the first FICO models (0.2 weak, 0.4
    strong), on the driver-verified `_scored` cohort. The third
    lens on the same grid: AUC integrates the separation, ROC draws
    it, KS reports its single worst... best point, with the argmax
    score (the natural cutoff candidate) alongside.

    ENTIRELY integer until the last division: cumulative class
    counts on the distinct-score grid, the gap maximized as the
    cross-multiplied |c₁·n₀ − c₀·n₁| (no per-row division, no float
    CDFs), argmax under a (gap DESC, score) total order, one
    floor-micro close. `events_ks_drift` holds the two-sample
    time-drift variant; this is the class-separation form.

    Scale: two map-side-combinable class counts + a window over the
    score-range-bounded grid.
    """
    scored = _scored(spark, sf_dir)
    tot = scored.agg(
        F.sum("label").cast("long").alias("n1"),
        F.sum(1 - F.col("label")).cast("long").alias("n0"),
    )
    grid = scored.groupBy("score").agg(
        F.sum("label").cast("long").alias("p"),
        F.sum(1 - F.col("label")).cast("long").alias("q"),
    )
    cum = grid_cumsum(
        grid, ["score"], [("c1", "p"), ("c0", "q")], keep=["score"]
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "score",
        "c1",
        "c0",
        "n1",
        "n0",
        F.abs(F.col("c1") * F.col("n0") - F.col("c0") * F.col("n1")).alias(
            "cross_gap"
        ),
    )
    return (
        grid_rank(gaps, [F.desc("cross_gap"), "score"], "rk")
        .where(F.col("rk") == 1)
        .select(
            F.col("score").alias("ks_score"),
            F.col("c1").cast("long").alias("cum_pos"),
            F.col("c0").cast("long").alias("cum_neg"),
            F.expr(
                "CAST((1000000 * cross_gap) DIV (n1 * n0) AS BIGINT)"
            ).alias("ks_micro"),
        )
    )


@register(
    "ml_pr_auc_exact",
    oracle=f"""
    WITH {_SCORED_SQL},
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(SUM(label) AS BIGINT) AS pos
        FROM scored
    ),
    grid AS (
        SELECT score, CAST(SUM(label) AS BIGINT) AS p,
               CAST(count(*) AS BIGINT) AS c
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT score, p,
               SUM(p) OVER (ORDER BY score DESC
                            ROWS UNBOUNDED PRECEDING) AS tp,
               SUM(c) OVER (ORDER BY score DESC
                            ROWS UNBOUNDED PRECEDING) AS pred
        FROM grid
    ),
    terms AS (
        SELECT CAST((1000000000 * p * tp) // pred AS BIGINT) AS term_nano
        FROM cum
    )
    SELECT t.n_users, t.pos,
           CAST((SELECT count(*) FROM grid) AS BIGINT) AS n_thresholds,
           CAST((SELECT SUM(term_nano) FROM terms) // (1000 * t.pos)
                AS BIGINT) AS ap_micro,
           CAST((1000000 * t.pos) // t.n_users AS BIGINT)
               AS prevalence_micro
    FROM tot t
    """,
)
def ml_pr_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision / PR-AUC (SURVEY.md §2.11): the step
    area under the precision-recall curve of the `_scored`
    early-activity score vs the 24 h conversion label — AP = Σ_k ΔR_k·P_k over
    descending score thresholds, the imbalance-honest companion to
    `ml_auc_exact` (ROC can look excellent while precision is useless
    at 1% prevalence; AP's baseline IS the prevalence, reported
    alongside). Shares the `_scored` pipeline verbatim so
    ROC/AUC/calibration/PR can never drift apart.

    Exactness: per-threshold term = (1e9·Δtp·tp) DIV (tp+fp) — the
    two-step integer fold (headroom ≤ 1e9·pos² — inside int64 through
    sf1), closed by one DIV against (1000·pos); ties share a threshold
    row exactly as in the ROC key.

    Scale: one groupBy to the |distinct scores| grid, one ordered
    cumulative window over that bounded grid, one reduce.
    """
    scored = _scored(spark, sf_dir)
    tot = scored.agg(
        F.count("*").alias("n_users"),
        F.sum("label").cast("long").alias("pos"),
    )
    grid = scored.groupBy("score").agg(
        F.sum("label").cast("long").alias("p"),
        F.count("*").cast("long").alias("c"),
    )
    cum = grid_cumsum(
        grid, [F.desc("score")], [("tp", "p"), ("pred", "c")], keep=["p"]
    )
    folded = cum.agg(
        F.count("*").cast("long").alias("n_thresholds"),
        F.sum(F.expr("(1000000000 * p * tp) DIV pred"))
        .cast("long")
        .alias("sum_nano"),
    )
    return tot.crossJoin(F.broadcast(folded)).select(
        "n_users",
        "pos",
        "n_thresholds",
        F.expr("CAST(sum_nano DIV (1000 * pos) AS BIGINT)").alias("ap_micro"),
        F.expr("CAST((1000000 * pos) DIV n_users AS BIGINT)").alias(
            "prevalence_micro"
        ),
    )


_W_CASE = (
    "CASE "
    + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POISSON_CDF_MICRO)
    )
    + " ELSE 8 END"
)


# ---------------------------------------------------------------------------
# The language-ID heuristic of ``llm_langid`` as a classifier
# ---------------------------------------------------------------------------


def _langid_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (tagged, predicted): the tagged language beside the one
    ``llm_langid``'s n-gram counts pick (ties to the earlier language)."""
    scores, pred = langid_columns()
    scored = load(spark, sf_dir, "documents").select(F.col("lang").alias("tagged"), *scores)
    return scored.select("tagged", pred.alias("predicted"))


@register(
    "ml_mcnemar_test",
    oracle=f"""
    WITH scored AS (
        SELECT lang AS tagged,
               {", ".join(f"{_langid_score_sql(p)} AS s_{l}" for l, p in sorted(LANG_PROFILES.items()))}
        FROM documents
    ),
    verdicts AS (
        SELECT CASE WHEN tagged = {_LANGID_CASE_SQL} THEN 1 ELSE 0 END
                   AS a_right,
               CASE WHEN tagged = 'en' THEN 1 ELSE 0 END AS b_right
        FROM scored
    ),
    cells AS (
        SELECT CAST(SUM(a_right * b_right) AS BIGINT) AS both_right,
               CAST(SUM(a_right * (1 - b_right)) AS BIGINT) AS only_a,
               CAST(SUM((1 - a_right) * b_right) AS BIGINT) AS only_b,
               CAST(SUM((1 - a_right) * (1 - b_right)) AS BIGINT)
                   AS both_wrong
        FROM verdicts
    )
    SELECT both_right, only_a, only_b, both_wrong,
           CAST((1000000 * (only_a - only_b) * (only_a - only_b))
                // (only_a + only_b) AS BIGINT) AS chi2_micro
    FROM cells
    """,
)
def ml_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test (SURVEY.md §2.11): the n-gram language-ID
    heuristic vs the majority-class baseline ("always en"), compared on
    the SAME documents — only the disagreement cells matter
    (χ² = (b−c)²/(b+c)), which is why McNemar, not two independent
    accuracy numbers, is the correct way to claim one classifier beats
    another on a shared eval set. Completes the eval suite's testing
    story: ROC/AUC/calibration measure ONE model; McNemar compares TWO.

    Exactness: the 2×2 paired-verdict cells are exact counts; χ² is
    one integer division in micro units.

    Scale: one narrow scan (the langid projection) + a 4-cell fold.
    """
    verdicts = _langid_votes(spark, sf_dir).select(
        (F.col("tagged") == F.col("predicted")).cast("long").alias("a_right"),
        (F.col("tagged") == "en").cast("long").alias("b_right"),
    )
    cells = verdicts.agg(
        F.sum(F.col("a_right") * F.col("b_right")).alias("both_right"),
        F.sum(F.col("a_right") * (1 - F.col("b_right"))).alias("only_a"),
        F.sum((1 - F.col("a_right")) * F.col("b_right")).alias("only_b"),
        F.sum((1 - F.col("a_right")) * (1 - F.col("b_right"))).alias(
            "both_wrong"
        ),
    )
    return cells.select(
        F.col("both_right").cast("long").alias("both_right"),
        F.col("only_a").cast("long").alias("only_a"),
        F.col("only_b").cast("long").alias("only_b"),
        F.col("both_wrong").cast("long").alias("both_wrong"),
        F.expr(
            "CAST((1000000 * (only_a - only_b) * (only_a - only_b))"
            " DIV (only_a + only_b) AS BIGINT)"
        ).alias("chi2_micro"),
    )


@register(
    "ml_auc_bootstrap_ci",
    oracle=f"""
    WITH {_SCORED_SQL},
    fan AS (
        SELECT b, score, label,
               CAST(('0x' || substr(md5('aucboot_' || CAST(b AS VARCHAR)
                                        || '_' || CAST(user_id AS VARCHAR)),
                                    1, 15)) AS BIGINT) % 1000000 AS u
        FROM scored, (SELECT unnest(range(0, {AUC_B})) AS b)
    ),
    weighted AS (SELECT b, score, label, {_W_CASE} AS w FROM fan),
    grid AS (
        SELECT b, score, CAST(SUM(w) AS BIGINT) AS c,
               CAST(SUM(w * label) AS BIGINT) AS p
        FROM weighted GROUP BY b, score
    ),
    cum AS (
        SELECT b, score, c, p,
               COALESCE(SUM(c) OVER (PARTITION BY b ORDER BY score
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS before
        FROM grid
    ),
    reps AS (
        SELECT b,
               CAST(SUM(p * (2 * before + c + 1)) AS BIGINT) AS r1_2,
               CAST(SUM(p) AS BIGINT) AS n1,
               CAST(SUM(c - p) AS BIGINT) AS n0
        FROM cum GROUP BY b
        HAVING SUM(p) > 0 AND SUM(c - p) > 0
    ),
    aucs AS (
        SELECT (1000000 * (r1_2 - n1 * (n1 + 1))) // (2 * n1 * n0)
                   AS auc_micro
        FROM reps
    ),
    sorted AS (
        SELECT list_sort(list(auc_micro)) AS a, CAST(count(*) AS BIGINT) AS nb
        FROM aucs
    )
    SELECT nb AS n_replicates,
           CAST(a[2] AS BIGINT) AS ci_lo_micro,
           CAST(a[CAST(nb - 1 AS INT)] AS BIGINT) AS ci_hi_micro
    FROM sorted
    """,
)
def ml_auc_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval on the exact AUC (SURVEY.md
    §2.11): each of {AUC_B} replicates reweights USERS with
    md5-deterministic Poisson(1) draws, recomputes the tie-aware
    rank-sum AUC on the weighted cohort (the ×2-integral midrank
    identity holds verbatim with weighted counts), and the 2nd/31st
    order statistics of the replicate AUCs bound the ~94% CI — the
    uncertainty every reported AUC needs, built by composing pack 26's
    bootstrap weights with `ml_auc_exact`'s midranks, zero new float
    surface.
    Degenerate replicates (a class weighted to zero) are excluded by
    the same HAVING on both engines.

    Exactness: weights are fixed-CDF-literal lookups; every replicate
    AUC is one integer division of exact BIGINT rank moments; the CI
    is order statistics of ≤{AUC_B} integers.

    Scale: the fan-out multiplies the per-USER cohort (not the facts)
    by B and collapses per (replicate, score) — bounded by B × the
    score grid; the sort runs over ≤{AUC_B} values.
    """
    scored = _scored(spark, sf_dir)
    fan = scored.select(
        "score",
        "label",
        "user_id",
        F.explode(F.expr(f"sequence(0, {AUC_B - 1})")).alias("b"),
    ).select(
        "b",
        "score",
        "label",
        (
            md5_long(
                F.concat(
                    F.lit("aucboot_"),
                    F.col("b").cast("string"),
                    F.lit("_"),
                    F.col("user_id").cast("string"),
                )
            )
            % 1000000
        ).alias("u"),
    )
    weighted = fan.select("b", "score", "label", F.expr(_W_CASE).alias("w"))
    grid = weighted.groupBy("b", "score").agg(
        F.sum("w").alias("c"),
        F.sum(F.col("w") * F.col("label")).alias("p"),
    )
    w_cum = (
        Window.partitionBy("b")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.select(
        "b",
        "score",
        "c",
        "p",
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("before"),
    )
    reps = (
        cum.groupBy("b")
        .agg(
            F.sum(F.col("p") * (2 * F.col("before") + F.col("c") + 1)).alias(
                "r1_2"
            ),
            F.sum("p").alias("n1"),
            F.sum(F.col("c") - F.col("p")).alias("n0"),
        )
        .where((F.col("n1") > 0) & (F.col("n0") > 0))
    )
    aucs = reps.select(
        F.expr(
            "(1000000 * (r1_2 - n1 * (n1 + 1))) DIV (2 * n1 * n0)"
        ).alias("auc_micro")
    )
    sorted_a = aucs.agg(
        F.expr("array_sort(collect_list(auc_micro))").alias("a"),
        F.count("*").alias("nb"),
    )
    return sorted_a.select(
        F.col("nb").cast("long").alias("n_replicates"),
        F.expr("element_at(a, 2)").cast("long").alias("ci_lo_micro"),
        F.expr("element_at(a, CAST(nb - 1 AS INT))")
        .cast("long")
        .alias("ci_hi_micro"),
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

    Scale: one per-user aggregate (shared with `_scored`), one bounded
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


@register(
    "ml_cohen_kappa",
    oracle=f"""
    WITH scored AS (
        SELECT lang AS tagged,
               {", ".join(f"{_langid_score_sql(p)} AS s_{l}" for l, p in sorted(LANG_PROFILES.items()))}
        FROM documents
    ),
    conf AS (
        SELECT tagged, {_LANGID_CASE_SQL} AS predicted,
               CAST(count(*) AS BIGINT) AS cnt
        FROM scored GROUP BY tagged, predicted
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN tagged = predicted THEN cnt ELSE 0 END)
                    AS BIGINT) AS trace
        FROM conf
    ),
    rc AS (
        SELECT CAST(SUM(r.row_tot * c.col_tot) AS BIGINT) AS sum_rc
        FROM (SELECT tagged AS k, CAST(SUM(cnt) AS BIGINT) AS row_tot
              FROM conf GROUP BY tagged) r
        JOIN (SELECT predicted AS k, CAST(SUM(cnt) AS BIGINT) AS col_tot
              FROM conf GROUP BY predicted) c USING (k)
    )
    SELECT n AS n_docs, trace AS n_agree,
           CAST((1000000 * trace) // n AS BIGINT) AS accuracy_micro,
           sum_rc,
           CAST((1000000 * (n * trace - sum_rc)) // (n * n - sum_rc)
                AS BIGINT) AS kappa_micro
    FROM tot, rc
    """,
)
def ml_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the n-gram language-ID heuristic and the
    corpus' tagged language (SURVEY.md §2.11): chance-corrected
    agreement κ = (p_o − p_e)/(1 − p_e) folded over exact confusion
    moments as (N·trace − Σrᵢcᵢ)/(N² − Σrᵢcᵢ) — the honest way to
    report classifier agreement when classes are imbalanced (accuracy
    alone flatters the majority-class guesser). Reuses `llm_langid`'s
    scoring contract, so the two keys are mutually pinning.

    Exactness: confusion cells, margins, trace are exact BIGINTs; κ is
    one integer division in micro units (truncation toward zero matches
    across engines even for negative κ — verified).

    Scale: the langid scan is one narrow projection; everything after
    runs on the ≤25-cell confusion table.
    """
    conf = _langid_votes(spark, sf_dir).groupBy("tagged", "predicted").agg(
        F.count("*").alias("cnt")
    )
    rows = conf.groupBy("tagged").agg(F.sum("cnt").alias("row_tot"))
    cols = conf.groupBy("predicted").agg(F.sum("cnt").alias("col_tot"))
    rc = (
        rows.join(cols, rows.tagged == cols.predicted)
        .agg(F.sum(F.col("row_tot") * F.col("col_tot")).alias("sum_rc"))
    )
    tr = conf.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.when(F.col("tagged") == F.col("predicted"), F.col("cnt")).otherwise(0)).alias(
            "trace"
        ),
    )
    return tr.crossJoin(F.broadcast(rc)).select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("trace").cast("long").alias("n_agree"),
        F.expr("CAST((1000000 * trace) DIV n AS BIGINT)").alias(
            "accuracy_micro"
        ),
        F.col("sum_rc").cast("long").alias("sum_rc"),
        F.expr(
            "(1000000 * (n * trace - sum_rc)) DIV (n * n - sum_rc)"
        ).alias("kappa_micro"),
    )


# ---------------------------------------------------------------------------
# The md5 stand-ins over ``embeddings``
# ---------------------------------------------------------------------------


def _stand_in_hash(prefix: str) -> Column:
    """md5_long(prefix || vec_id): the per-row draw every ``embeddings``
    stand-in makes, one prefix per independent draw."""
    return md5_long(F.concat(F.lit(prefix), F.col("vec_id").cast("string")))


def _flipped(prefix: str) -> Column:
    """True on the rows where the stand-in keyed by `prefix` errs: every
    ``FLIP_MOD``-th row by its hash."""
    return _stand_in_hash(prefix) % FLIP_MOD == 0


def _binary_truth() -> Column:
    """The binary task of the stand-ins: 1 for labels 0-4, else 0."""
    return F.when(F.col("label") < 5, 1).otherwise(0)


def _brier_forecast() -> Column:
    """The md5 forecast of the binary truth in micro-probability: sharp
    toward the truth (0.7-1.0 or 0.0-0.3), blunted to 0.5 on the rows
    ``_flipped("brier_")``."""
    bf = _stand_in_hash("bf_") % 300000
    return (
        F.when(_flipped("brier_"), 500000)
        .when(F.col("label") < 5, 700000 + bf)
        .otherwise(bf)
    )


def _class_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, y, cls, score), one row per vector and class: a stand-in
    softmax whose integer score is md5 % 1000 plus ``CLASS_BOOST`` for the
    true class, so its argmax is right ~2/5 of the time."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("y")
    )
    cls = spark.range(N_CLASSES).select(F.col("id").cast("long").alias("cls"))
    score = (
        md5_long(
            F.concat(
                F.lit("tk_"), F.col("vec_id").cast("string"), F.lit("_"), F.col("cls").cast("string")
            )
        )
        % 1000
        + F.when(F.col("cls") == F.col("y"), CLASS_BOOST).otherwise(0)
    )
    return e.crossJoin(F.broadcast(cls)).select("vec_id", "y", "cls", score.alias("score"))


def _pred_hash_sql(prefix: str) -> str:
    """SQL twin of ``_stand_in_hash(prefix)``."""
    return (
        f"CAST(('0x' || substr(md5('{prefix}' || CAST(vec_id AS VARCHAR)), 1, 15)) "
        "AS BIGINT)"
    )


@register(
    "ml_classification_report_exact",
    oracle=f"""
    WITH scored AS (
        SELECT CAST(label AS BIGINT) AS y,
               CASE WHEN {_pred_hash_sql('clf_')} % {FLIP_MOD} = 0
                    THEN (CAST(label AS BIGINT) + 1) % {N_CLASSES}
                    ELSE CAST(label AS BIGINT) END AS yhat
        FROM embeddings
    ),
    truth AS (
        SELECT y AS class, CAST(COUNT(*) AS BIGINT) AS support
        FROM scored GROUP BY y
    ),
    predicted AS (
        SELECT yhat AS class, CAST(COUNT(*) AS BIGINT) AS n_predicted
        FROM scored GROUP BY yhat
    ),
    diagonal AS (
        SELECT y AS class, CAST(COUNT(*) AS BIGINT) AS tp
        FROM scored WHERE y = yhat GROUP BY y
    ),
    per_class AS (
        SELECT t.class,
               t.support,
               COALESCE(p.n_predicted, 0) AS n_predicted,
               COALESCE(d.tp, 0) AS tp,
               CAST((1000000 * COALESCE(d.tp, 0))
                    // greatest(1, COALESCE(p.n_predicted, 0)) AS BIGINT)
                   AS precision_micro,
               CAST((1000000 * COALESCE(d.tp, 0))
                    // greatest(1, t.support) AS BIGINT) AS recall_micro
        FROM truth t
        LEFT JOIN predicted p ON p.class = t.class
        LEFT JOIN diagonal d ON d.class = t.class
    ),
    with_f1 AS (
        SELECT *,
               CAST((2 * precision_micro * recall_micro)
                    // greatest(1, precision_micro + recall_micro) AS BIGINT)
                   AS f1_micro
        FROM per_class
    )
    SELECT class, support, n_predicted, tp,
           precision_micro, recall_micro, f1_micro,
           CAST(SUM(f1_micro) OVER () // COUNT(*) OVER () AS BIGINT)
               AS macro_f1_micro,
           CAST((1000000 * SUM(tp) OVER ()) // SUM(support) OVER () AS BIGINT)
               AS accuracy_micro
    FROM with_f1
    ORDER BY class
    """,
)
def ml_classification_report_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-class classification report (SURVEY.md §2.6): the
    sklearn-`classification_report` table — per-class support /
    predicted-count / TP / precision / recall / F1, plus macro-F1 and
    global accuracy — for a hard multiclass classifier. Completes the
    evaluation family: `ml_auc_exact` grades a ranking, this grades
    the argmax decisions a deployment actually makes.

    The classifier is a deterministic stand-in (md5(vec_id) flips
    every FLIP_MOD-th row to the next class, so the confusion structure
    is a pure function of the row key that both engines re-derive);
    the product is the metric pipeline. All ratios fold floor-micro
    integer division; macro-F1 averages the already-floored per-class
    F1s, so no float ever enters the plan.

    Scale: three skinny map-side-combinable aggregations (by true
    class, by predicted class, by diagonal) over N rows, then a
    |classes|-row three-way join and a window over |classes| rows —
    the shuffle is O(|classes|), not O(N). This is the shape that
    survives 100 TB: no global sort, no wide row ever moves.
    """
    y = F.col("label").cast("long")
    yhat = (
        F.when(_flipped("clf_"), (y + 1) % N_CLASSES)
        .otherwise(y)
    )
    scored = load(spark, sf_dir, "embeddings").select(
        y.alias("y"), yhat.alias("yhat")
    )
    truth = scored.groupBy(F.col("y").alias("class")).agg(
        F.count("*").alias("support")
    )
    predicted = scored.groupBy(F.col("yhat").alias("class")).agg(
        F.count("*").alias("n_predicted")
    )
    diagonal = (
        scored.where(F.col("y") == F.col("yhat"))
        .groupBy(F.col("y").alias("class"))
        .agg(F.count("*").alias("tp"))
    )
    per_class = (
        truth.join(predicted, "class", "left")
        .join(diagonal, "class", "left")
        .select(
            "class",
            "support",
            F.coalesce("n_predicted", F.lit(0)).alias("n_predicted"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
        .select(
            "*",
            F.expr(
                "CAST((1000000 * tp) DIV greatest(1, n_predicted) AS BIGINT)"
            ).alias("precision_micro"),
            F.expr(
                "CAST((1000000 * tp) DIV greatest(1, support) AS BIGINT)"
            ).alias("recall_micro"),
        )
        .select(
            "*",
            F.expr(
                "CAST((2 * precision_micro * recall_micro) "
                "DIV greatest(1, precision_micro + recall_micro) AS BIGINT)"
            ).alias("f1_micro"),
        )
    )
    return (
        per_class.select(
            "class",
            "support",
            "n_predicted",
            "tp",
            "precision_micro",
            "recall_micro",
            "f1_micro",
            F.expr(
                "CAST(SUM(f1_micro) OVER () DIV COUNT(*) OVER () AS BIGINT)"
            ).alias("macro_f1_micro"),
            F.expr(
                "CAST((1000000 * SUM(tp) OVER ()) DIV SUM(support) OVER () "
                "AS BIGINT)"
            ).alias("accuracy_micro"),
        )
        .orderBy("class")
    )


@register(
    "ml_lift_gain_deciles",
    oracle=f"""
    WITH scored AS (
        SELECT vec_id,
               CASE WHEN label = 0 THEN 1 ELSE 0 END AS is_pos,
               {_pred_hash_sql('lift_')} % 1000000
                   + CASE WHEN label = 0 THEN {LIFT_BOOST} ELSE 0 END
                   AS score_micro
        FROM embeddings
    ),
    deciled AS (
        SELECT is_pos, score_micro,
               NTILE({LIFT_K}) OVER (ORDER BY score_micro DESC, vec_id)
                   AS decile
        FROM scored
    ),
    per AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(is_pos) AS BIGINT) AS n_pos,
               CAST(MIN(score_micro) AS BIGINT) AS min_score_micro
        FROM deciled GROUP BY decile
    ),
    tot AS (
        SELECT CAST(SUM(n_rows) AS BIGINT) AS n,
               CAST(SUM(n_pos) AS BIGINT) AS p
        FROM per
    )
    SELECT decile, n_rows, n_pos, min_score_micro,
           CAST((1000000 * SUM(n_pos) OVER (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                // p AS BIGINT) AS cum_gain_micro,
           CAST((1000000 * n_pos * n) // (n_rows * p) AS BIGINT)
               AS lift_micro
    FROM per, tot
    ORDER BY decile
    """,
)
def ml_lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift / cumulative-gains deciles (SURVEY.md §2.6): the targeting
    table behind every campaign-sizing decision — rank rows by model
    score, cut into deciles, and report each decile's positive count,
    cumulative share of all positives captured (gain), and lift over
    the base rate. The decision artifact a ranking AUC cannot give you:
    "mailing the top 2 deciles captures X% of responders at Y× lift".

    The score is a deterministic stand-in (md5 fraction plus a fixed
    boost for the positive class, so the gains curve is genuinely
    non-flat and both engines re-derive it bit-identically). Deciles
    use the (score DESC, vec_id) total order so cut ties can never
    differ; gain and lift fold floor-micro integer division.

    Scale: exact ntile WITHOUT a global sort — the BUCKET-STITCH global
    rank (r10: score_micro is domain-bounded at ~1e6 distinct values,
    but that is a 1M-row single-task ceiling; 2^12-score buckets cap
    the only single-task window at ≤245 rows), and the SQL ntile
    bucket formula (first n%k buckets take one extra row) maps ranks
    to deciles in closed form. The cumulative window runs over 10
    rows either way.
    """
    hash_score = _stand_in_hash("lift_") % 1_000_000
    scored = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.when(F.col("label") == 0, 1).otherwise(0).alias("is_pos"),
        (
            hash_score
            + F.when(F.col("label") == 0, LIFT_BOOST).otherwise(0)
        ).alias("score_micro"),
    )
    # r10 (proactive, found by the near-threshold grid audit): the
    # per-score histogram saturates only at ~1e6 rows — domain-bounded
    # but a 1M-row single-task ceiling at real scale. Bucket-stitch
    # rank: 2^12-score buckets bound the only single-task window at
    # ≤245 rows; SQL ntile(k) is the closed form of (rank, n).
    tot_n = scored.agg(F.count("*").cast("long").alias("n"))
    deciled = (
        bucketed_global_rank(
            scored.crossJoin(F.broadcast(tot_n)),
            "score_micro",
            [F.asc("vec_id")],
            descending=True,
            bucket_bits=12,
            out="rn",
        )
        .withColumn("decile", closed_form_ntile(F.col("rn"), F.col("n"), LIFT_K))
        .select("is_pos", "score_micro", "decile")
    )
    per = deciled.groupBy("decile").agg(
        F.count("*").alias("n_rows"),
        F.sum("is_pos").cast("long").alias("n_pos"),
        F.min("score_micro").cast("long").alias("min_score_micro"),
    )
    tot = per.agg(
        F.sum("n_rows").alias("n"), F.sum("n_pos").alias("p")
    )
    return (
        grid_cumsum(
            per.crossJoin(F.broadcast(tot)),
            ["decile"],
            [("cum_pos", "n_pos")],
            keep=["*"],
        )
        .select(
            "decile",
            "n_rows",
            "n_pos",
            "min_score_micro",
            F.expr("CAST((1000000 * cum_pos) DIV p AS BIGINT)").alias(
                "cum_gain_micro"
            ),
            F.expr(
                "CAST((1000000 * n_pos * n) DIV (n_rows * p) AS BIGINT)"
            ).alias("lift_micro"),
        )
        .orderBy("decile")
    )


@register(
    "ml_fairness_group_gaps",
    oracle=f"""
    WITH scored AS (
        SELECT CAST(('0x' || substr(md5('grp_' || CAST(vec_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % {N_GROUPS} AS grp,
               CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               CASE WHEN CAST(('0x' || substr(md5('fclf_' || CAST(vec_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % {FLIP_MOD} = 0
                    THEN 1 - CASE WHEN label < 5 THEN 1 ELSE 0 END
                    ELSE CASE WHEN label < 5 THEN 1 ELSE 0 END END AS yhat
        FROM embeddings
    ),
    per_group AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(yhat) AS BIGINT) AS n_selected,
               CAST(SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fp
        FROM scored GROUP BY grp
    ),
    rates AS (
        SELECT grp, n,
               (1000000 * n_selected) // n AS sel_micro,
               (1000000 * tp) // greatest(1, pos) AS tpr_micro,
               (1000000 * fp) // greatest(1, n - pos) AS fpr_micro
        FROM per_group
    )
    SELECT grp, n,
           CAST(sel_micro AS BIGINT) AS sel_micro,
           CAST(tpr_micro AS BIGINT) AS tpr_micro,
           CAST(fpr_micro AS BIGINT) AS fpr_micro,
           CAST(MAX(sel_micro) OVER () - MIN(sel_micro) OVER () AS BIGINT)
               AS demographic_parity_gap_micro,
           CAST(greatest(MAX(tpr_micro) OVER () - MIN(tpr_micro) OVER (),
                         MAX(fpr_micro) OVER () - MIN(fpr_micro) OVER ())
                AS BIGINT) AS equalized_odds_gap_micro
    FROM rates
    ORDER BY grp
    """,
)
def ml_fairness_group_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fairness group gaps (SURVEY.md §2.11): per protected group
    (md5-assigned stand-in attribute), the selection rate, TPR, and
    FPR of the stand-in classifier, plus the two headline gaps — the
    demographic-parity gap (max−min selection rate) and the
    equalized-odds gap (worst of the TPR and FPR spreads; Hardt et
    al. 2016) — repeated on every row so the relation is
    self-contained. The pre-deployment audit table responsible-AI
    review gates on; pairing it with `ml_classification_report_exact`
    makes the point that aggregate accuracy and group equity are
    DIFFERENT tables over the same predictions.

    Exactness: conditional counts, floor-micro rates, window max−min
    over the |groups|-row relation; degenerate groups guard with
    greatest(1, ·) identically on both engines.

    Scale: three conditional sums per group (one map-side-combinable
    pass) + a window over |groups| rows. Fairness auditing is cheap;
    not running it never is.
    """
    y = _binary_truth()
    yhat = F.when(_flipped("fclf_"), 1 - y).otherwise(y)
    scored = load(spark, sf_dir, "embeddings").select(
        (_stand_in_hash("grp_") % N_GROUPS).alias("grp"), y.alias("y"), yhat.alias("yhat")
    )
    per_group = scored.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("yhat").cast("long").alias("n_selected"),
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum("y").cast("long").alias("pos"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
    )
    rates = per_group.select(
        "grp",
        "n",
        F.expr("(1000000 * n_selected) DIV n").alias("sel_micro"),
        F.expr("(1000000 * tp) DIV greatest(1, pos)").alias("tpr_micro"),
        F.expr("(1000000 * fp) DIV greatest(1, n - pos)").alias("fpr_micro"),
    )
    gaps = rates.agg(
        (F.max("sel_micro") - F.min("sel_micro"))
        .cast("long")
        .alias("demographic_parity_gap_micro"),
        F.greatest(
            F.max("tpr_micro") - F.min("tpr_micro"),
            F.max("fpr_micro") - F.min("fpr_micro"),
        )
        .cast("long")
        .alias("equalized_odds_gap_micro"),
    )
    return (
        rates.crossJoin(F.broadcast(gaps))
        .select(
            "grp",
            "n",
            F.col("sel_micro").cast("long").alias("sel_micro"),
            F.col("tpr_micro").cast("long").alias("tpr_micro"),
            F.col("fpr_micro").cast("long").alias("fpr_micro"),
            "demographic_parity_gap_micro",
            "equalized_odds_gap_micro",
        )
        .orderBy("grp")
    )


@register(
    "ml_mcc_exact",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               CASE WHEN CAST(('0x' || substr(md5('mcc_' || CAST(vec_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % {FLIP_MOD} = 0
                    THEN 1 - CASE WHEN label < 5 THEN 1 ELSE 0 END
                    ELSE CASE WHEN label < 5 THEN 1 ELSE 0 END END AS yhat
        FROM embeddings
    ),
    cm AS (
        SELECT CAST(SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
               CAST(SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM scored
    )
    SELECT tp, tn, fp, fn,
           CAST((1000000 * (tp + tn)) // (tp + tn + fp + fn) AS BIGINT)
               AS accuracy_micro,
           ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
                        * (CAST(tn AS DOUBLE) + fp) * (CAST(tn AS DOUBLE) + fn)),
                 6) AS mcc
    FROM cm
    """,
)
def ml_mcc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient (SURVEY.md §2.11): the
    single-number binary metric computed from the full confusion
    matrix — MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)) —
    which, unlike accuracy and F1, cannot be gamed by predicting the
    majority class under imbalance (Matthews 1975; Chicco & Jurman's
    "advantages of MCC" is the modern case). Reported next to
    accuracy on the SAME confusion counts so the tests can assert the
    divergence story (MCC strictly below the accuracy impression).

    The predictor is the registry's md5 stand-in (binary collapse
    label < 5, every {FLIP_MOD}th row flipped); the four counts
    are exact integers and the closing formula is one double
    expression ROUND(·,6) — the t-test discipline.

    Scale: four conditional sums in one map-side-combinable pass;
    the metric costs nothing, which is the argument for always
    reporting it.
    """
    y = _binary_truth()
    yhat = F.when(_flipped("mcc_"), 1 - y).otherwise(y)
    scored = load(spark, sf_dir, "embeddings").select(
        y.alias("y"), yhat.alias("yhat")
    )
    cm = scored.agg(
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    )
    return cm.select(
        "tp",
        "tn",
        "fp",
        "fn",
        F.expr(
            "CAST((1000000 * (tp + tn)) DIV (tp + tn + fp + fn) AS BIGINT)"
        ).alias("accuracy_micro"),
        F.round(
            (
                F.col("tp").cast("double") * F.col("tn")
                - F.col("fp").cast("double") * F.col("fn")
            )
            / F.sqrt(
                (F.col("tp").cast("double") + F.col("fp"))
                * (F.col("tp").cast("double") + F.col("fn"))
                * (F.col("tn").cast("double") + F.col("fp"))
                * (F.col("tn").cast("double") + F.col("fn"))
            ),
            6,
        ).alias("mcc"),
    )


@register(
    "ml_learning_curve_nested",
    oracle=f"""
    WITH scored AS (
        SELECT vec_id,
               CAST(('0x' || substr(md5('lc_' || CAST(vec_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 100 AS pct,
               CASE WHEN CAST(('0x' || substr(md5('clf_' || CAST(vec_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % {FLIP_MOD} = 0
                    THEN 0 ELSE 1 END AS correct
        FROM embeddings
    ),
    fractions AS (
        SELECT unnest([{", ".join(str(f) for f in CURVE_FRACTIONS)}]) AS pct_cap
    )
    SELECT CAST(f.pct_cap AS BIGINT) AS pct_cap,
           CAST(SUM(CASE WHEN s.pct < f.pct_cap THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rows,
           CAST(SUM(CASE WHEN s.pct < f.pct_cap THEN s.correct ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST((1000000 * SUM(CASE WHEN s.pct < f.pct_cap
                                    THEN s.correct ELSE 0 END))
                // SUM(CASE WHEN s.pct < f.pct_cap THEN 1 ELSE 0 END)
                AS BIGINT) AS acc_micro
    FROM scored s CROSS JOIN fractions f
    GROUP BY f.pct_cap
    ORDER BY pct_cap
    """,
)
def ml_learning_curve_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested learning curve (SURVEY.md §2.11): the `_flipped("clf_")`
    stand-in predictor's accuracy evaluated on md5-percent NESTED subsets
    (10% ⊂ 20% ⊂ … ⊂ 100% by construction of the hash-threshold
    rule) — the sample-efficiency table behind every "do we need more
    labels?" decision. Nesting is the methodological point: disjoint
    resamples confound curve shape with resample noise, nested
    subsets isolate the size effect — and the hash rule gives nesting
    for free, which is why hash thresholds are the subsetting
    discipline everywhere in this registry.

    (The stand-in's accuracy is size-independent by construction, so
    the curve is flat up to sampling noise — the HARNESS is the
    product; a real model's (subset, correct) table drops into the
    same spine. The per-fraction row counts grow ~linearly, asserted.)

    Exactness: hash membership, integer counts, floor-micro accuracy.

    Scale: ONE scan with a broadcast fraction spine (10 conditional
    sums), not ten scans — the curve costs what one evaluation costs.
    """
    scored = load(spark, sf_dir, "embeddings").select(
        (_stand_in_hash("lc_") % 100).alias("pct"),
        F.when(_flipped("clf_"), 0).otherwise(1).alias("correct"),
    )
    fractions = local_rows(spark, [(f,) for f in CURVE_FRACTIONS], "pct_cap long")
    return (
        scored.crossJoin(F.broadcast(fractions))
        .groupBy("pct_cap")
        .agg(
            F.sum(F.when(F.col("pct") < F.col("pct_cap"), 1).otherwise(0))
            .cast("long")
            .alias("n_rows"),
            F.sum(
                F.when(F.col("pct") < F.col("pct_cap"), F.col("correct")).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN pct < pct_cap THEN correct "
                "ELSE 0 END)) DIV SUM(CASE WHEN pct < pct_cap THEN 1 ELSE 0 "
                "END) AS BIGINT)"
            ).alias("acc_micro"),
        )
        .orderBy("pct_cap")
    )


@register(
    "ml_brier_skill_exact",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS o,
               -- md5 forecast: sharp toward truth, blunted every 4th row
               CASE WHEN CAST(('0x' || substr(md5('brier_' || CAST(vec_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % {FLIP_MOD} = 0
                    THEN 500000
                    WHEN label < 5
                    THEN 700000 + CAST(('0x' || substr(md5('bf_' || CAST(vec_id AS VARCHAR)), 1, 15))
                                       AS BIGINT) % 300000
                    ELSE CAST(('0x' || substr(md5('bf_' || CAST(vec_id AS VARCHAR)), 1, 15))
                              AS BIGINT) % 300000
               END AS f_micro
        FROM embeddings
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o) AS BIGINT) AS pos,
               CAST(SUM((f_micro - 1000000 * o) * (f_micro - 1000000 * o))
                    AS BIGINT) AS sq_sum
        FROM scored
    )
    SELECT n, pos,
           CAST(sq_sum // n AS BIGINT) AS brier_micro2,
           CAST(((1000000 * pos) // n) * ((1000000 * (n - pos)) // n)
                AS BIGINT) AS climatology_micro2_approx,
           CAST((1000000 * (sq_sum // n))
                // (((1000000 * pos) // n)
                    * ((1000000 * (n - pos)) // n)) AS BIGINT)
               AS brier_over_ref_micro
    FROM sums
    """,
)
def ml_brier_skill_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Brier score and skill (SURVEY.md §2.11): BS = mean(f−o)²
    over md5-derived integer micro-probability forecasts (sharp
    toward the truth, deliberately blunted to 0.5 on every
    {FLIP_MOD}th row), against the climatology reference
    BS_ref = p̄(1−p̄) — reported as the ratio BS/BS_ref in micro
    (<1e6 ⇔ positive skill). The proper-scoring pair probabilistic
    forecasting quotes; with integer micro forecasts the Brier sum is
    an EXACT integer (squared micro units — "micro²"), and the skill
    ratio is one integer division (BS floored to micro² FIRST so the
    numerator stays inside int64 at any n), so the verdict cannot
    float-drift.

    Exactness: integer micro forecasts and outcomes end to end; the
    climatology term uses the floored micro rates identically on
    both engines (an approximation of p̄(1−p̄) by < 1e-6 — stated).

    Scale: one map-side-combinable pass; proper scores are cheap,
    which is why they should be in every eval sweep.
    """
    scored = load(spark, sf_dir, "embeddings").select(
        _binary_truth().alias("o"), _brier_forecast().alias("f_micro")
    )
    sums = scored.agg(
        F.count("*").alias("n"),
        F.sum("o").cast("long").alias("pos"),
        F.sum(
            (F.col("f_micro") - 1_000_000 * F.col("o"))
            * (F.col("f_micro") - 1_000_000 * F.col("o"))
        )
        .cast("long")
        .alias("sq_sum"),
    )
    return sums.select(
        "n",
        "pos",
        F.expr("CAST(sq_sum DIV n AS BIGINT)").alias("brier_micro2"),
        F.expr(
            "CAST(((1000000 * pos) DIV n) * ((1000000 * (n - pos)) DIV n) "
            "AS BIGINT)"
        ).alias("climatology_micro2_approx"),
        F.expr(
            "CAST((1000000 * (sq_sum DIV n)) "
            "DIV (((1000000 * pos) DIV n) "
            "* ((1000000 * (n - pos)) DIV n)) AS BIGINT)"
        ).alias("brier_over_ref_micro"),
    )


# `_brier_forecast`, decile-quantized to the bin MIDPOINT so
# forecasts are constant within a bin (within-bin variance = 0 ⇒ the
# Murphy identity is exact up to the emitted truncations)
_FQ_ORACLE = f"""
        (CASE WHEN CAST(('0x' || substr(md5('brier_' || CAST(vec_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % {FLIP_MOD} = 0
              THEN 500000
              WHEN label < 5
              THEN 700000 + CAST(('0x' || substr(md5('bf_' || CAST(vec_id AS VARCHAR)), 1, 15))
                                 AS BIGINT) % 300000
              ELSE CAST(('0x' || substr(md5('bf_' || CAST(vec_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 300000
         END // 100000) * 100000 + 50000
"""


def _fq_spark() -> Column:
    """``_FQ_ORACLE`` on Spark: the forecast is non-negative, so
    ``fq - fq % 100000`` is ``(fq DIV 100000) * 100000``."""
    fq = _brier_forecast()
    return fq - fq % 100000 + 50000


@register(
    "ml_brier_decomposition_murphy",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS o,
               CAST({_FQ_ORACLE} AS BIGINT) AS fq
        FROM embeddings
    ),
    bins AS (
        SELECT fq,
               CASE WHEN count(*) > 3000
                    THEN CAST(error('murphy: bin size exceeds int64 micro^2 headroom (3000) - downshift the micro scale') AS BIGINT)
                    ELSE CAST(count(*) AS BIGINT) END AS nk,
               CAST(SUM(o) AS BIGINT) AS pk
        FROM scored GROUP BY fq
    ),
    tot AS (
        SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(pk) AS BIGINT) AS pos
        FROM bins
    ),
    terms AS (
        SELECT b.fq, b.nk, b.pk,
               (1000000 * b.pk) // b.nk AS obar_micro,
               (b.fq * b.nk - 1000000 * b.pk)
                 * (b.fq * b.nk - 1000000 * b.pk) // b.nk AS rel_term,
               ((1000000 * b.pk * t.n - 1000000 * t.pos * b.nk) // t.n)
                 * ((1000000 * b.pk * t.n - 1000000 * t.pos * b.nk) // t.n)
                 // b.nk AS res_term
        FROM bins b, tot t
    ),
    summary AS (
        SELECT CAST(SUM(rel_term) // max(t.n) AS BIGINT) AS rel_micro2,
               CAST(SUM(res_term) // max(t.n) AS BIGINT) AS res_micro2,
               CAST(((1000000 * max(t.pos)) // max(t.n))
                    * ((1000000 * (max(t.n) - max(t.pos))) // max(t.n))
                    AS BIGINT) AS unc_micro2,
               CAST((SELECT SUM((fq - 1000000 * o) * (fq - 1000000 * o))
                     FROM scored) // max(t.n) AS BIGINT) AS bs_micro2
        FROM terms, tot t
    )
    SELECT x.fq AS bin_f_micro, x.nk AS n_bin, x.pk AS n_pos,
           CAST(x.obar_micro AS BIGINT) AS obar_micro,
           CAST(x.rel_term AS BIGINT) AS rel_term_micro2,
           CAST(x.res_term AS BIGINT) AS res_term_micro2,
           s.bs_micro2, s.rel_micro2, s.res_micro2, s.unc_micro2
    FROM terms x, summary s
    ORDER BY x.fq
    """,
)
def ml_brier_decomposition_murphy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (SURVEY.md §2.11):
    BS = REL − RES + UNC over decile-quantized md5 forecasts — the
    calibration-vs-sharpness split (`ml_brier_skill_exact` reports the
    scalar; `ml_calibration_by_score` the curve; this key says WHY the
    score is what it is: miscalibration cost REL vs discrimination
    credit RES vs irreducible UNC). Quantizing forecasts to bin
    midpoints zeroes within-bin forecast variance, the one condition
    making the identity exact; per-bin terms are emitted beside the
    folded summary so the decomposition is auditable row by row.

    Exactness: all terms are two-step integer folds in micro² units
    (per-bin truncating division — deterministic; the python test
    re-derives BS ≈ REL − RES + UNC within the truncation slack);
    RES headroom documented in the module docstring.

    Scale: one groupBy to ≤ 10 bins + one reduce — a single pass.
    """
    e = load(spark, sf_dir, "embeddings")
    scored = e.select(
        _binary_truth().alias("o"),
        _fq_spark().cast("long").alias("fq"),
    )
    # Loud overflow guard (ADVICE r4): rel/res square a value bounded by
    # 1e6·nk, so int64 holds only while nk ≤ ~3e3 (3034 = ⌊√(2⁶³−1)⌋/1e6).
    # Past the documented headroom the fold must FAIL, not silently wrap —
    # the remedy at larger SF is downshifting the micro scale, a deliberate
    # re-derivation, never an automatic one. Mirrored with error() in the
    # DuckDB oracle so both sides fail identically.
    bins = scored.groupBy("fq").agg(
        F.count("*").cast("long").alias("nk"),
        F.sum("o").cast("long").alias("pk"),
    ).withColumn(
        "nk",
        F.when(F.col("nk") <= 3000, F.col("nk")).otherwise(
            F.expr(
                "raise_error('murphy: bin size exceeds int64 micro^2 "
                "headroom (3000) - downshift the micro scale')"
            ).cast("long")
        ),
    )
    tot = bins.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum("pk").cast("long").alias("pos"),
    )
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "fq",
        "nk",
        "pk",
        "n",
        "pos",
        F.expr("(1000000 * pk) DIV nk").alias("obar_micro"),
        F.expr(
            "(fq * nk - 1000000 * pk) * (fq * nk - 1000000 * pk) DIV nk"
        ).alias("rel_term"),
        F.expr(
            "((1000000 * pk * n - 1000000 * pos * nk) DIV n)"
            " * ((1000000 * pk * n - 1000000 * pos * nk) DIV n) DIV nk"
        ).alias("res_term"),
    )
    bs = scored.agg(
        F.sum(F.expr("(fq - 1000000 * o) * (fq - 1000000 * o)"))
        .cast("long")
        .alias("sq_sum")
    )
    summary = (
        terms.agg(
            F.sum("rel_term").alias("rel_sum"),
            F.sum("res_term").alias("res_sum"),
            F.max("n").alias("n"),
            F.max("pos").alias("pos"),
        )
        .crossJoin(F.broadcast(bs))
        .select(
            F.expr("CAST(rel_sum DIV n AS BIGINT)").alias("rel_micro2"),
            F.expr("CAST(res_sum DIV n AS BIGINT)").alias("res_micro2"),
            F.expr(
                "CAST(((1000000 * pos) DIV n)"
                " * ((1000000 * (n - pos)) DIV n) AS BIGINT)"
            ).alias("unc_micro2"),
            F.expr("CAST(sq_sum DIV n AS BIGINT)").alias("bs_micro2"),
        )
    )
    return (
        terms.crossJoin(F.broadcast(summary))
        .select(
            F.col("fq").alias("bin_f_micro"),
            F.col("nk").alias("n_bin"),
            F.col("pk").alias("n_pos"),
            F.col("obar_micro").cast("long").alias("obar_micro"),
            F.col("rel_term").cast("long").alias("rel_term_micro2"),
            F.col("res_term").cast("long").alias("res_term_micro2"),
            "bs_micro2",
            "rel_micro2",
            "res_micro2",
            "unc_micro2",
        )
        .orderBy("bin_f_micro")
    )


@register(
    "ml_quadratic_weighted_kappa",
    oracle=f"""
    WITH rated AS (
        SELECT CAST(label AS BIGINT) // 2 AS y,
               CASE WHEN CAST(('0x' || substr(md5('qwk_' || CAST(vec_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % {QWK_FLIP_MOD} = 0
                    THEN least({QWK_K - 1},
                               greatest(0, CAST(label AS BIGINT) // 2
                                   + CASE WHEN CAST(('0x' || substr(md5('qd_'
                                         || CAST(vec_id AS VARCHAR)), 1, 15))
                                         AS BIGINT) % 2 = 0
                                     THEN 1 ELSE -1 END))
                    ELSE CAST(label AS BIGINT) // 2 END AS yhat
        FROM embeddings
    ),
    o AS (
        SELECT y, yhat, CAST(COUNT(*) AS BIGINT) AS n_cell
        FROM rated GROUP BY y, yhat
    ),
    marg AS (
        SELECT r.y AS i, c.yhat AS j,
               CAST(r.n_row AS BIGINT) AS n_row,
               CAST(c.n_col AS BIGINT) AS n_col
        FROM (SELECT y, SUM(n_cell) AS n_row FROM o GROUP BY y) r
        CROSS JOIN (SELECT yhat, SUM(n_cell) AS n_col FROM o GROUP BY yhat) c
    ),
    sums AS (
        SELECT
            CAST((SELECT SUM(n_cell) FROM o) AS BIGINT) AS n,
            CAST((SELECT SUM((y - yhat) * (y - yhat) * n_cell) FROM o)
                 AS BIGINT) AS wo,
            CAST((SELECT SUM((i - j) * (i - j) * n_row * n_col) FROM marg)
                 AS BIGINT) AS we
    )
    SELECT n, wo AS weighted_observed, we AS weighted_expected_xn,
           CAST(1000000 - (1000000 * n * wo) // we AS BIGINT)
               AS qwk_micro
    FROM sums
    """,
)
def ml_quadratic_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted kappa (SURVEY.md §2.11): ordinal agreement on
    a 0..{QWK_K - 1} scale (labels collapsed by 2) between truth and
    an md5 stand-in rater that drifts ±1 on every {QWK_FLIP_MOD}rd
    row — κ_w = 1 − ΣwᵢⱼOᵢⱼ / ΣwᵢⱼEᵢⱼ with quadratic weights
    w = (i−j)², the metric of essay-grading and radiology benchmarks,
    where being off by two must cost four times being off by one
    (plain kappa can't see the difference; `ml_cohen_kappa` holds
    that unweighted leg). Clearing E's 1/n: κ = 1 − n·ΣwO / Σw·rᵢ·cⱼ
    — the whole chance-corrected metric becomes ONE floor-micro
    division of integer cross-sums, hash-exact.

    Exactness: confusion counts, marginal products, one division;
    magnitudes ≲ k²·n² — inside int64 to sf1.

    Scale: one ≤k² confusion count + marginal folds — the metric is
    free; the clamp at the scale edges (drift cannot leave 0..k−1)
    is part of the stand-in's contract, stated and replayed.
    """
    y = (F.col("label").cast("long") / 2).cast("long")
    drift = F.when(_stand_in_hash("qd_") % 2 == 0, 1).otherwise(-1)
    yhat = F.when(
        _stand_in_hash("qwk_") % QWK_FLIP_MOD == 0,
        F.least(F.lit(QWK_K - 1), F.greatest(F.lit(0), y + drift)),
    ).otherwise(y)
    rated = load(spark, sf_dir, "embeddings").select(
        y.alias("y"), yhat.alias("yhat")
    )
    o = rated.groupBy("y", "yhat").agg(F.count("*").alias("n_cell"))
    r = o.groupBy("y").agg(F.sum("n_cell").alias("n_row"))
    c = o.groupBy("yhat").agg(F.sum("n_cell").alias("n_col"))
    wo = o.agg(
        F.sum("n_cell").cast("long").alias("n"),
        F.sum(
            (F.col("y") - F.col("yhat")) * (F.col("y") - F.col("yhat")) * F.col("n_cell")
        )
        .cast("long")
        .alias("wo"),
    )
    we = (
        r.crossJoin(c)
        .agg(
            F.sum(
                (F.col("y") - F.col("yhat"))
                * (F.col("y") - F.col("yhat"))
                * F.col("n_row")
                * F.col("n_col")
            )
            .cast("long")
            .alias("we")
        )
    )
    return (
        wo.crossJoin(F.broadcast(we))
        .select(
            "n",
            F.col("wo").alias("weighted_observed"),
            F.col("we").alias("weighted_expected_xn"),
            F.expr(
                "CAST(1000000 - (1000000 * n * wo) DIV we AS BIGINT)"
            ).alias("qwk_micro"),
        )
    )


@register(
    "ml_topk_accuracy_exact",
    oracle=f"""
    WITH scored AS (
        SELECT e.vec_id, CAST(e.label AS BIGINT) AS y, c.cls,
               CAST(('0x' || substr(md5('tk_' || CAST(e.vec_id AS VARCHAR)
                         || '_' || CAST(c.cls AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 1000
                   + CASE WHEN c.cls = e.label THEN {CLASS_BOOST} ELSE 0 END
                   AS score
        FROM embeddings e,
             (SELECT unnest(range({N_CLASSES})) AS cls) c
    ),
    ranked AS (
        SELECT vec_id, y, cls,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cls) AS rnk
        FROM scored
    ),
    verdicts AS (
        SELECT vec_id,
               MAX(CASE WHEN cls = y AND rnk = 1 THEN 1 ELSE 0 END) AS top1,
               MAX(CASE WHEN cls = y AND rnk <= {TOPK_K} THEN 1 ELSE 0 END)
                   AS topk
        FROM ranked GROUP BY vec_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(top1) AS BIGINT) AS top1_correct,
           CAST(SUM(topk) AS BIGINT) AS topk_correct,
           CAST((1000000 * SUM(top1)) // COUNT(*) AS BIGINT)
               AS top1_acc_micro,
           CAST((1000000 * SUM(topk)) // COUNT(*) AS BIGINT)
               AS topk_acc_micro
    FROM verdicts
    """,
)
def ml_topk_accuracy_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k accuracy (SURVEY.md §2.11): per row, {N_CLASSES} class
    scores (md5 integers, truth boosted by {CLASS_BOOST} of 1000 — a
    stand-in softmax whose argmax is right ~2/5 of the time but whose
    top-{TOPK_K} contains the truth far more often); credit top-1 and
    top-{TOPK_K} membership under the (score DESC, class) total
    order — the ImageNet convention, and the gap between the two
    numbers is the whole argument for beam/rerank pipelines. The
    driver hash pins the rank semantics including score ties (broken
    by class id, stated).

    Exactness: integer scores, ranks, counts, floor-micro accuracies.

    Scale: a |rows|×|classes| expression scan (classes broadcast) +
    one rank window per row bounded by the class count — eval at
    fleet scale is this counting job.
    """
    scored = _class_scores(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), "cls")
    ranked = scored.select(
        "vec_id", "y", "cls", F.row_number().over(w).alias("rnk")
    )
    verdicts = ranked.groupBy("vec_id").agg(
        F.max(
            F.when((F.col("cls") == F.col("y")) & (F.col("rnk") == 1), 1).otherwise(0)
        ).alias("top1"),
        F.max(
            F.when(
                (F.col("cls") == F.col("y")) & (F.col("rnk") <= TOPK_K), 1
            ).otherwise(0)
        ).alias("topk"),
    )
    return verdicts.agg(
        F.count("*").alias("n"),
        F.sum("top1").cast("long").alias("top1_correct"),
        F.sum("topk").cast("long").alias("topk_correct"),
        F.expr("CAST((1000000 * SUM(top1)) DIV COUNT(*) AS BIGINT)").alias(
            "top1_acc_micro"
        ),
        F.expr("CAST((1000000 * SUM(topk)) DIV COUNT(*) AS BIGINT)").alias(
            "topk_acc_micro"
        ),
    )


@register(
    "ml_uncertainty_margin_sampling",
    oracle=f"""
    WITH scored AS (
        SELECT e.vec_id, CAST(e.label AS BIGINT) AS y, c.cls,
               CAST(('0x' || substr(md5('tk_' || CAST(e.vec_id AS VARCHAR)
                         || '_' || CAST(c.cls AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 1000
                   + CASE WHEN c.cls = e.label THEN {CLASS_BOOST} ELSE 0 END
                   AS score
        FROM embeddings e,
             (SELECT unnest(range({N_CLASSES})) AS cls) c
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
    {N_CLASSES} classes (the `_class_scores` integer score model, reused
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
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), "cls")
    ranked = _class_scores(spark, sf_dir).select(
        "vec_id", "y", "score", F.row_number().over(w).alias("rnk")
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


# ---------------------------------------------------------------------------
# Other graded models: md5 raters, the exact 5-NN vote, a popularity
# recommender
# ---------------------------------------------------------------------------


def _rating_sql(r: int) -> str:
    """Rater r's category for a doc: truth, nudged by per-rater noise."""
    truth = (
        "CAST(('0x' || substr(md5('truth_' || CAST(doc_id AS VARCHAR)), 1, 15)) "
        f"AS BIGINT) % {N_CATS}"
    )
    noise = (
        f"CAST(('0x' || substr(md5('rate{r}_' || CAST(doc_id AS VARCHAR)), 1, 15)) "
        f"AS BIGINT) % {RATER_NOISE_MOD}"
    )
    return f"CASE WHEN {noise} = 0 THEN (({truth}) + 1 + {r}) % {N_CATS} ELSE {truth} END"


@register(
    "ml_krippendorff_alpha",
    oracle=f"""
    WITH rated AS (
        SELECT doc_id,
               {_rating_sql(0)} AS r0,
               {_rating_sql(1)} AS r1,
               {_rating_sql(2)} AS r2
        FROM documents
    ),
    per_unit AS (
        SELECT doc_id, r0, r1, r2,
               6 - 2 * (CAST(r0 = r1 AS BIGINT) + CAST(r0 = r2 AS BIGINT)
                        + CAST(r1 = r2 AS BIGINT)) AS d_pairs
        FROM rated
    ),
    marg AS (
        SELECT cat, CAST(COUNT(*) AS BIGINT) AS n_c
        FROM (
            SELECT r0 AS cat FROM per_unit
            UNION ALL SELECT r1 FROM per_unit
            UNION ALL SELECT r2 FROM per_unit
        ) all_r GROUP BY cat
    ),
    tot AS (
        SELECT CAST(SUM(n_c) AS BIGINT) AS n,
               CAST(SUM(n_c * n_c) AS BIGINT) AS sum_sq
        FROM marg
    ),
    dis AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
               CAST(SUM(d_pairs) AS BIGINT) AS d_o2
        FROM per_unit
    )
    SELECT d.n_units, t.n AS n_ratings, d.d_o2,
           CAST(1000000 - (1000000 * (t.n - 1) * d.d_o2)
                // (2 * (t.n * t.n - t.sum_sq)) AS BIGINT) AS alpha_micro,
           CAST((1000000 * (6 * d.n_units - d.d_o2)) // (6 * d.n_units)
                AS BIGINT) AS raw_agreement_micro
    FROM dis d, tot t
    """,
)
def ml_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha, nominal (SURVEY.md §2.11): three
    md5-synthesized raters label every document (truth plus per-rater
    noise — the agreement machinery, not the annotators, is the
    product); alpha = 1 − D_o/D_e over the coincidence matrix is the
    annotation-QA gate that generalizes `ml_cohen_kappa` beyond two
    raters — the number a labeling vendor must clear before their
    data enters training.

    With a fixed rater panel the coincidence matrix folds away: a
    unit's disagreeing ordered pairs are 6 − 2·#{equal rater pairs},
    and nominal alpha clears denominators to 1 −
    (n−1)·ΣD_u / (2·(n² − Σn_c²)) — one integer division, exact on
    both engines. Raw percent agreement rides along to show the
    chance correction doing work (alpha < raw, asserted).

    Scale: one per-unit projection (no join — the raters are
    expressions), one 3-row marginal aggregate, one scalar fold.
    Agreement auditing at corpus scale is a counting job.
    """
    doc_id = F.col("doc_id").cast("string")
    truth = md5_long(F.concat(F.lit("truth_"), doc_id)) % N_CATS

    def _spark_rating(r: int) -> Column:
        noise = md5_long(F.concat(F.lit(f"rate{r}_"), doc_id)) % RATER_NOISE_MOD
        return F.when(noise == 0, (truth + 1 + r) % N_CATS).otherwise(truth)

    rated = load(spark, sf_dir, "documents").select(
        "doc_id", *(_spark_rating(r).alias(f"r{r}") for r in range(3))
    )
    per_unit = rated.select(
        "doc_id",
        "r0",
        "r1",
        "r2",
        (
            6
            - 2
            * (
                (F.col("r0") == F.col("r1")).cast("long")
                + (F.col("r0") == F.col("r2")).cast("long")
                + (F.col("r1") == F.col("r2")).cast("long")
            )
        ).alias("d_pairs"),
    )
    all_r = (
        per_unit.select(F.col("r0").alias("cat"))
        .unionAll(per_unit.select(F.col("r1").alias("cat")))
        .unionAll(per_unit.select(F.col("r2").alias("cat")))
    )
    marg = all_r.groupBy("cat").agg(F.count("*").alias("n_c"))
    tot = marg.agg(
        F.sum("n_c").cast("long").alias("n"),
        F.sum(F.col("n_c") * F.col("n_c")).cast("long").alias("sum_sq"),
    )
    dis = per_unit.agg(
        F.count("*").alias("n_units"),
        F.sum("d_pairs").cast("long").alias("d_o2"),
    )
    return dis.crossJoin(F.broadcast(tot)).select(
        "n_units",
        F.col("n").alias("n_ratings"),
        "d_o2",
        F.expr(
            "CAST(1000000 - (1000000 * (n - 1) * d_o2) "
            "DIV (2 * (n * n - sum_sq)) AS BIGINT)"
        ).alias("alpha_micro"),
        F.expr(
            "CAST((1000000 * (6 * n_units - d_o2)) DIV (6 * n_units) AS BIGINT)"
        ).alias("raw_agreement_micro"),
    )


@register(
    "ml_knn_accuracy_exact",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS qid, a.label AS true_label, b.label AS nbr_label,
               ROUND(list_cosine_similarity(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS sim,
               b.vec_id AS nid
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), knn AS (
        SELECT qid, true_label, nbr_label
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                           ORDER BY sim DESC, nid) AS rk
              FROM pairs) r
        WHERE rk <= 5
    ), votes AS (
        SELECT qid, true_label, nbr_label AS pred_label, COUNT(*) AS n_votes
        FROM knn GROUP BY qid, true_label, nbr_label
    ), decided AS (
        SELECT qid, true_label, pred_label
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                           ORDER BY n_votes DESC, pred_label) AS vr
              FROM votes) v
        WHERE vr = 1
    )
    SELECT true_label, pred_label, COUNT(*) AS n_vectors
    FROM decided GROUP BY true_label, pred_label
    """,
)
def ml_knn_accuracy_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-NN majority-vote classifier confusion matrix over the
    embedding corpus — the hash-checkable ML evaluation (MLlib fits are
    rows-only by nature; this eval is pure deterministic arithmetic, so
    the driver pins it exactly). Votes tie-break to the smaller label;
    neighbor ranking ties break on vec_id — total orders everywhere.

    Round-5 rewrite: the neighbor lists come from the REGISTERED
    ``llm_similarity_topk`` kernel (Arrow/numpy blocked matmul — same
    round-6 sims, same (sim DESC, nid) rank, k=5, self excluded by id),
    so the eval and the ANN ground-truth baseline cannot drift apart
    and the 4× slower JVM-HOF cross join this key used to duplicate is
    gone (that form remains measured under llm_similarity_topk_hof).
    Label joins + vote/confusion are bounded aggregations; AQE picks
    the label-join strategy (corpus-sized at 100 TB — no forced
    broadcast).
    """
    lab = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    knn = llm_similarity_topk(spark, sf_dir)
    votes = (
        knn.join(
            lab.select(F.col("vec_id").alias("qid"), F.col("label").alias("true_label")),
            "qid",
        )
        .join(
            lab.select(F.col("vec_id").alias("nid"), F.col("label").alias("nbr_label")),
            "nid",
        )
        .groupBy("qid", "true_label", F.col("nbr_label").alias("pred_label"))
        .agg(F.count("*").alias("n_votes"))
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("n_votes"), F.asc("pred_label"))
    decided = votes.withColumn("vr", F.row_number().over(wv)).where(F.col("vr") == 1)
    return decided.groupBy("true_label", "pred_label").agg(
        F.count("*").alias("n_vectors")
    )


# round(1e6 / log2(i+1)) for positions i = 1..10 — fixed literals, no
# log at query time
NDCG_DISC_MICRO = (
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
)

NDCG_PREFIX_MICRO = tuple(itertools.accumulate(NDCG_DISC_MICRO))


_DISC_ARR_SQL = "[" + ", ".join(str(d) for d in NDCG_DISC_MICRO) + "]"


_PREF_ARR_SQL = "[" + ", ".join(str(p) for p in NDCG_PREFIX_MICRO) + "]"


_DISC_ARR_SPARK = "array(" + ", ".join(str(d) for d in NDCG_DISC_MICRO) + ")"


_PREF_ARR_SPARK = "array(" + ", ".join(str(p) for p in NDCG_PREFIX_MICRO) + ")"


@register(
    "ml_ndcg_at_k",
    oracle=f"""
    WITH bounds AS (
        SELECT epoch_us(min(o_orderdate))
               + (epoch_us(max(o_orderdate)) - epoch_us(min(o_orderdate))) // 2
                   AS split_us
        FROM orders
    ),
    facts AS (
        SELECT c.c_mktsegment AS seg, o.o_custkey AS cust,
               l.l_partkey AS part,
               CAST(round(l.l_quantity) AS BIGINT) AS qty,
               epoch_us(o.o_orderdate) AS ous
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    rec AS (
        SELECT seg, part, pos FROM (
            SELECT seg, part,
                   row_number() OVER (PARTITION BY seg
                                      ORDER BY SUM(qty) DESC, part) AS pos
            FROM facts, bounds WHERE ous < split_us
            GROUP BY seg, part
        ) r WHERE pos <= 10
    ),
    truth AS (
        SELECT DISTINCT seg, cust, part
        FROM facts, bounds WHERE ous >= split_us
    ),
    truth_n AS (
        SELECT seg, cust, CAST(count(*) AS BIGINT) AS n_truth
        FROM truth GROUP BY seg, cust
    ),
    hits AS (
        SELECT t.seg, t.cust,
               CAST(count(*) AS BIGINT) AS n_hits,
               CAST(SUM(({_DISC_ARR_SQL})[r.pos]) AS BIGINT) AS dcg_micro
        FROM truth t JOIN rec r ON t.seg = r.seg AND t.part = r.part
        GROUP BY t.seg, t.cust
    ),
    per_user AS (
        SELECT n.seg, n.cust,
               COALESCE(h.n_hits, 0) AS n_hits,
               COALESCE(h.dcg_micro, 0) AS dcg_micro,
               ({_PREF_ARR_SQL})[least(n.n_truth, 10)] AS idcg_micro
        FROM truth_n n LEFT JOIN hits h ON n.seg = h.seg AND n.cust = h.cust
    )
    SELECT seg,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(SUM(n_hits) AS BIGINT) AS total_hits,
           CAST((1000000 * count(*) FILTER (n_hits > 0)) // count(*)
                AS BIGINT) AS hit_rate_micro,
           CAST(SUM((1000000 * dcg_micro) // idcg_micro) // count(*)
                AS BIGINT) AS mean_ndcg_micro
    FROM per_user GROUP BY seg ORDER BY seg
    """,
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact NDCG@10 / hit-rate for a popularity recommender
    (SURVEY.md §2.11): train on the first half of the order timeline
    (top-10 parts per market segment by quantity, total-order
    tie-break), evaluate on each customer's second-half purchases —
    mean NDCG@10 and hit rate per segment, the ranking-quality metrics
    RankingEvaluator reports, as a hash-checkable integer contract
    beside the rows-only `ml_recommend_als`.

    Exactness: the log2 position discounts are fixed micro literals
    (positions 1..10; the bootstrap-pack CDF-literal discipline), so
    per-user DCG and ideal-DCG are integer sums and NDCG is one integer
    division; the temporal split point is integer epoch-µs midpoint
    arithmetic; the recommendation cut is total-order deterministic.

    Scale: training is one (segment, part) aggregate; the 50-row model
    broadcasts into the truth join; evaluation rolls up per customer
    then per segment — the fact table is touched twice, shuffled once
    each on its natural keys.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    bounds = o.agg(
        F.expr(
            "unix_micros(min(o_orderdate))"
            " + (unix_micros(max(o_orderdate)) - unix_micros(min(o_orderdate)))"
            " DIV 2"
        ).alias("split_us")
    )
    facts = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("qty"),
            F.expr("unix_micros(o_orderdate)").alias("ous"),
        )
        .crossJoin(F.broadcast(bounds))
    )
    w_rank = Window.partitionBy("seg").orderBy(F.desc("s"), "part")
    rec = (
        facts.where(F.col("ous") < F.col("split_us"))
        .groupBy("seg", "part")
        .agg(F.sum("qty").alias("s"))
        .select("seg", "part", F.row_number().over(w_rank).alias("pos"))
        .where(F.col("pos") <= 10)
    )
    truth = (
        facts.where(F.col("ous") >= F.col("split_us"))
        .select("seg", "cust", "part")
        .distinct()
    )
    truth_n = truth.groupBy("seg", "cust").agg(F.count("*").alias("n_truth"))
    hits = (
        truth.join(F.broadcast(rec), ["seg", "part"])
        .groupBy("seg", "cust")
        .agg(
            F.count("*").alias("n_hits"),
            F.sum(F.expr(f"element_at({_DISC_ARR_SPARK}, pos)")).alias(
                "dcg_micro"
            ),
        )
    )
    per_user = truth_n.join(hits, ["seg", "cust"], "left").select(
        "seg",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.coalesce("dcg_micro", F.lit(0)).alias("dcg_micro"),
        F.expr(
            f"element_at({_PREF_ARR_SPARK}, CAST(least(n_truth, 10) AS INT))"
        ).alias("idcg_micro"),
    )
    return (
        per_user.groupBy("seg")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("n_hits").alias("total_hits"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END))"
                " DIV count(*) AS BIGINT)"
            ).alias("hit_rate_micro"),
            F.expr(
                "CAST(SUM((1000000 * dcg_micro) DIV idcg_micro)"
                " DIV count(*) AS BIGINT)"
            ).alias("mean_ndcg_micro"),
        )
        .orderBy("seg")
    )
