"""Round-3 extension pack #59: exact pass@k estimation and fairness
group-gap metrics.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — the unbiased pass@k estimator (Chen et al., "Evaluating
Large Language Models Trained on Code", 2021: pass@k = 1 −
C(n−c,k)/C(n,k) over n samples with c correct, computed in product
form) and group-fairness metrics (selection rate / TPR / FPR per
protected group with max pairwise gaps — demographic parity and
equalized-odds checks, Hardt et al., NeurIPS 2016) — re-expressed on
the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): sample outcomes and the
protected attribute are deterministic md5 rules (the estimator and the
audit, not the model, are the product); pass@k folds EXACT integer
binomial ratios (n is a literal, so C(n−c,k)/C(n,k) is a product of at
most k small integer factors — no factorials, no floats); fairness
rates fold floor-micro divisions and gaps are window max−min over the
group table.

Scale posture (SURVEY.md §7.6): pass@k is one aggregation to
per-task (n, c) then a per-source rollup — the n samples never need
to be co-located beyond the task key; fairness is three conditional
counts per group plus a |groups|-row window. Both are
map-side-combinable counting jobs at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

N_SAMPLES = 10  # samples drawn per task
PASS_K = 5  # the k in the headline pass@k
_DEN5 = 10 * 9 * 8 * 7 * 6  # C(10,5) product-form denominator = 30240
N_GROUPS = 3  # protected-attribute domain in the fairness audit
FAIR_FLIP_MOD = 4  # the stand-in classifier mislabels every 4th row


@register(
    "llm_eval_pass_at_k",
    oracle=f"""
    WITH samples AS (
        SELECT d.doc_id, d.source, i.i,
               CASE WHEN CAST(('0x' || substr(md5('pass_' || CAST(d.doc_id AS VARCHAR)
                                 || '_' || CAST(i.i AS VARCHAR)), 1, 15)) AS BIGINT)
                         % 100
                       < 20 + CAST(('0x' || substr(md5('diff_'
                                 || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 60
                    THEN 1 ELSE 0 END AS ok
        FROM documents d,
             (SELECT unnest(range({N_SAMPLES})) AS i) i
    ),
    per_task AS (
        SELECT doc_id, source,
               CAST(SUM(ok) AS BIGINT) AS c
        FROM samples GROUP BY doc_id, source
    ),
    est AS (
        SELECT source, c,
               1000000 - (1000000 * ({N_SAMPLES} - c)) // {N_SAMPLES}
                   AS pass1_micro,
               CASE WHEN c >= {N_SAMPLES - PASS_K + 1} THEN 1000000
                    ELSE 1000000 - (1000000
                         * (({N_SAMPLES} - c) * (9 - c) * (8 - c)
                            * (7 - c) * (6 - c))) // {_DEN5}
               END AS pass5_micro
        FROM per_task
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tasks,
           CAST(SUM(c) AS BIGINT) AS n_correct_samples,
           CAST(SUM(pass1_micro) // COUNT(*) AS BIGINT) AS mean_pass1_micro,
           CAST(SUM(pass5_micro) // COUNT(*) AS BIGINT) AS mean_pass5_micro
    FROM est
    GROUP BY source
    ORDER BY source
    """,
)
def llm_eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pass@k (SURVEY.md §2.12): the unbiased HumanEval estimator
    pass@k = 1 − C(n−c,k)/C(n,k) per task (n = 10 md5-synthesized
    sample outcomes with a per-task difficulty; the estimator, not the
    model, is the product), rolled up per source as mean pass@1 /
    pass@5 — the eval-harness aggregation every code-model report
    quotes, and the one naive "fraction of tasks with ≥1 pass in k
    draws" computes WRONG (that's biased; Chen et al.'s combinatorial
    identity is the fix, and this key pins it).

    With n a literal, C(n−c,k)/C(n,k) is a product of k small integer
    factors over 30240 — EXACT integer arithmetic end to end (zero
    when c > n−k is the CASE guard); per-source means floor over
    already-floored micros, identical on both engines.

    Scale: one (task, sample) count, one task aggregate, one source
    rollup — all map-side combinable; the samples table never needs
    more locality than the task key. Eval harnesses at fleet scale
    are exactly this counting job.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    idx = spark.range(N_SAMPLES).select(F.col("id").cast("long").alias("i"))

    difficulty = 20 + md5_long(F.concat(F.lit("diff_"), F.col("doc_id").cast("string"))) % 60
    ok = (
        md5_long(
            F.concat(
                F.lit("pass_"),
                F.col("doc_id").cast("string"),
                F.lit("_"),
                F.col("i").cast("string"),
            )
        )
        % 100
        < difficulty
    ).cast("long")
    per_task = (
        d.crossJoin(F.broadcast(idx))
        .select("doc_id", "source", ok.alias("ok"))
        .groupBy("doc_id", "source")
        .agg(F.sum("ok").cast("long").alias("c"))
    )
    est = per_task.select(
        "source",
        "c",
        F.expr(
            f"1000000 - (1000000 * ({N_SAMPLES} - c)) DIV {N_SAMPLES}"
        ).alias("pass1_micro"),
        F.expr(
            f"CASE WHEN c >= {N_SAMPLES - PASS_K + 1} THEN 1000000 "
            f"ELSE 1000000 - (1000000 * (({N_SAMPLES} - c) * (9 - c) * (8 - c) "
            f"* (7 - c) * (6 - c))) DIV {_DEN5} END"
        ).alias("pass5_micro"),
    )
    return (
        est.groupBy("source")
        .agg(
            F.count("*").alias("n_tasks"),
            F.sum("c").cast("long").alias("n_correct_samples"),
            F.expr("CAST(SUM(pass1_micro) DIV COUNT(*) AS BIGINT)").alias(
                "mean_pass1_micro"
            ),
            F.expr("CAST(SUM(pass5_micro) DIV COUNT(*) AS BIGINT)").alias(
                "mean_pass5_micro"
            ),
        )
        .orderBy("source")
    )


@register(
    "ml_fairness_group_gaps",
    oracle=f"""
    WITH scored AS (
        SELECT CAST(('0x' || substr(md5('grp_' || CAST(vec_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % {N_GROUPS} AS grp,
               CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               CASE WHEN CAST(('0x' || substr(md5('fclf_' || CAST(vec_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % {FAIR_FLIP_MOD} = 0
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
    y = F.when(F.col("label") < 5, 1).otherwise(0)

    def _h(prefix: str):
        return md5_long(F.concat(F.lit(prefix), F.col("vec_id").cast("string")))

    yhat = F.when(_h("fclf_") % FAIR_FLIP_MOD == 0, 1 - y).otherwise(y)
    scored = load(spark, sf_dir, "embeddings").select(
        (_h("grp_") % N_GROUPS).alias("grp"), y.alias("y"), yhat.alias("yhat")
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
