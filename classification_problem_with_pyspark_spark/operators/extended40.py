"""Round-3 extension pack #40: McNemar's paired test and a bootstrap
confidence interval on AUC — the uncertainty layer of the exact
model-evaluation suite.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — McNemar's test (1947) for comparing two classifiers on the
SAME examples (only the disagreement cells carry information), and
bootstrap confidence intervals on ranking metrics (the Poisson-bootstrap
form that distributes) — re-expressed on the public PySpark DataFrame
API over the driver's testdata.

Hash-parity discipline (round-3 standard): McNemar's χ² = (b−c)²/(b+c)
folds as one integer division over exact disagreement counts; the AUC
bootstrap composes two proven disciplines — md5-deterministic Poisson(1)
weights (pack 26's fixed CDF literals) and the ×2-integral weighted
midrank identity (pack 27: with weighted counts, R₁·2 = Σ p_g·(2·before
+ c_g + 1) still holds exactly) — so every replicate AUC is an exact
BIGINT and the CI is order statistics of 32 integers.

Scale posture (SURVEY.md §7.6): McNemar is one narrow scan + a 4-cell
fold; the AUC bootstrap fans the per-user cohort (not the facts) B ways
and collapses per (replicate, score) — bounded by B × score-grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.operators.extended26 import (
    _POISSON_CDF_MICRO,
)
from classification_problem_with_pyspark_spark.operators.extended27 import (
    _SCORED_SQL,
    _scored,
)
from classification_problem_with_pyspark_spark.operators.llm import (
    LANG_PROFILES,
    _LANGID_CASE_SQL,
    _langid_score_sql,
)
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

AUC_B = 32  # bootstrap replicates for the AUC CI

_W_CASE = (
    "CASE "
    + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POISSON_CDF_MICRO)
    )
    + " ELSE 8 END"
)


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
    d = load(spark, sf_dir, "documents")

    def score(pats):
        t = F.col("text")
        return sum(
            (F.length(t) - F.length(F.replace(t, F.lit(p), F.lit(""))))
            for p in pats
        )

    scored = d.select(
        F.col("lang").alias("tagged"),
        *[score(p).alias(f"s_{l}") for l, p in sorted(LANG_PROFILES.items())],
    )
    langs = sorted(LANG_PROFILES)
    expr = None
    for lang in langs[:-1]:
        cond = None
        for other in langs:
            if other > lang:
                c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
                cond = c if cond is None else (cond & c)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    pred = expr.otherwise(F.lit(langs[-1]))
    verdicts = scored.select(
        (F.col("tagged") == pred).cast("long").alias("a_right"),
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
    bootstrap weights with pack 27's exact AUC, zero new float surface.
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
