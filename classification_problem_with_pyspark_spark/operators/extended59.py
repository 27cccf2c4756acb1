"""Round-3 extension pack #59: exact pass@k estimation.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the unbiased pass@k estimator (Chen et al., "Evaluating
Large Language Models Trained on Code", 2021: pass@k = 1 −
C(n−c,k)/C(n,k) over n samples with c correct, computed in product
form) — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-3 standard): sample outcomes are
deterministic md5 rules (the estimator, not the model, is the product);
pass@k folds EXACT integer binomial ratios (n is a literal, so
C(n−c,k)/C(n,k) is a product of at most k small integer factors — no
factorials, no floats).

Scale posture (SURVEY.md §7.6): one aggregation to per-task (n, c) then
a per-source rollup — the n samples never need to be co-located beyond
the task key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

N_SAMPLES = 10  # samples drawn per task
PASS_K = 5  # the k in the headline pass@k
_DEN5 = 10 * 9 * 8 * 7 * 6  # C(10,5) product-form denominator = 30240


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
