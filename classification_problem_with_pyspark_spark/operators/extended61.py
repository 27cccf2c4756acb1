"""Round-3 extension pack #61: Krippendorff's alpha and Hellinger
distribution drift.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — Krippendorff's alpha (the multi-rater chance-corrected
agreement coefficient over a coincidence matrix; Krippendorff,
"Content Analysis", the annotation-QA standard that generalizes Cohen's
kappa past two raters) and the Hellinger distance between discrete
distributions (H² = 1 − Σ√(pᵢqᵢ), the bounded symmetric drift metric
that, unlike KL/PSI, needs no smoothing on empty bins) — re-expressed
on the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): ratings are a deterministic
md5 synthesis (truth + per-rater noise — the agreement machinery, not
the annotators, is the product); alpha folds EXACT integers end to end
(with 3 raters the unit's disagreeing ordered pairs are 6 −
2·#{equal pairs}, and the nominal-alpha ratio clears denominators into
one integer division); Hellinger's per-bin √(cᵢdᵢ) terms are summed by
an ORDER-PINNED fold (DuckDB ordered-aggregate `SUM(... ORDER BY
hour)`, Spark array_sort + F.aggregate) so the float sum is
bit-identical on both engines before ROUND(·,6).

Scale posture (SURVEY.md §7.6): alpha is one per-unit projection + two
marginal aggregations (the coincidence matrix never materializes —
with fixed raters it folds into per-unit pair counts); Hellinger is a
per-(type, hour) count table + one 24-element fold per type.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

N_CATS = 3
RATER_NOISE_MOD = 4  # each rater deviates from truth on every 4th unit
EARLY_MAX_DAY = 10  # drift windows: days 1-10 vs days 21+
LATE_MIN_DAY = 21


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
    "events_hellinger_drift",
    oracle=f"""
    WITH binned AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS hr,
               CASE WHEN EXTRACT(day FROM ts) <= {EARLY_MAX_DAY} THEN 'e'
                    WHEN EXTRACT(day FROM ts) >= {LATE_MIN_DAY} THEN 'l'
               END AS win
        FROM events
        WHERE EXTRACT(day FROM ts) <= {EARLY_MAX_DAY}
           OR EXTRACT(day FROM ts) >= {LATE_MIN_DAY}
    ),
    cells AS (
        SELECT event_type, hr,
               CAST(SUM(CASE WHEN win = 'e' THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN win = 'l' THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM binned GROUP BY event_type, hr
    ),
    folded AS (
        SELECT event_type,
               CAST(SUM(c) AS BIGINT) AS n_early,
               CAST(SUM(d) AS BIGINT) AS n_late,
               SUM(sqrt(CAST(c AS DOUBLE) * CAST(d AS DOUBLE))
                   ORDER BY hr) AS root_sum
        FROM cells GROUP BY event_type
    )
    SELECT event_type, n_early, n_late,
           ROUND(root_sum / sqrt(CAST(n_early AS DOUBLE) * n_late), 6)
               AS bhattacharyya,
           ROUND(sqrt(greatest(0.0,
               1.0 - root_sum / sqrt(CAST(n_early AS DOUBLE) * n_late))), 6)
               AS hellinger
    FROM folded
    ORDER BY event_type
    """,
)
def events_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger drift (SURVEY.md §2.4): the hour-of-day activity
    distribution of each event type, early window (days ≤ 10) vs late
    window (days ≥ 21), compared with the Bhattacharyya coefficient
    BC = Σ√(pᵢqᵢ) and Hellinger distance H = √(1−BC) — the bounded
    [0,1] symmetric drift metric that needs NO smoothing on empty
    bins (√(p·0) = 0), unlike KL/PSI, which is why monitoring
    pipelines prefer it on sparse histograms. Completes the drift
    family: `events_ks_drift` (CDF sup), `ml_feature_drift_chi2`
    (frequency χ²), Hellinger (mass geometry).

    The only float is the per-bin √(cᵢdᵢ); its 24-term sum is
    ORDER-PINNED (DuckDB ordered aggregate, Spark array_sort +
    left fold), so both engines produce the identical double before
    ROUND(·,6) — the discipline that makes float drift metrics
    hash-stable.

    Scale: one (type, hour) count table (map-side combinable) + a
    24-element fold per type. Drift monitors run hourly; they must
    cost exactly this little.
    """
    e = load(spark, sf_dir, "events")
    day = F.dayofmonth("ts")
    binned = e.where(
        (day <= EARLY_MAX_DAY) | (day >= LATE_MIN_DAY)
    ).select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.when(day <= EARLY_MAX_DAY, "e").otherwise("l").alias("win"),
    )
    cells = binned.groupBy("event_type", "hr").agg(
        F.sum(F.when(F.col("win") == "e", 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(F.col("win") == "l", 1).otherwise(0)).cast("long").alias("d"),
    )
    folded = cells.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_early"),
        F.sum("d").cast("long").alias("n_late"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("hr", "c", "d"))
            ),
            F.lit(0.0),
            lambda acc, x: acc
            + F.sqrt(x["c"].cast("double") * x["d"].cast("double")),
        ).alias("root_sum"),
    )
    bc = F.col("root_sum") / F.sqrt(
        F.col("n_early").cast("double") * F.col("n_late")
    )
    return folded.select(
        "event_type",
        "n_early",
        "n_late",
        F.round(bc, 6).alias("bhattacharyya"),
        F.round(F.sqrt(F.greatest(F.lit(0.0), 1.0 - bc)), 6).alias("hellinger"),
    ).orderBy("event_type")
