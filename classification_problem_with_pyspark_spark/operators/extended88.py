"""Round-3 extension pack #88: idempotent reload deduplication and
exact top-k accuracy.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — idempotent file loading (a retried upload lands the same
bytes under a new name; the loader must dedup by CONTENT, not by file
name, or every retry double-counts — the exactly-once-by-idempotence
discipline every ingestion pipeline needs) and top-k accuracy (the
multiclass eval that credits a prediction when the truth is among the
k highest scores — the ImageNet top-5 convention) — re-expressed on
the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the retry shard is a
byte-identical copy staged under a different name; dedup is by
full-row digest and the oracle restates the ONCE-counted rows from
the dim. Class scores are md5 integers with a truth boost; top-k
membership is a rank under a (score DESC, class) total order.

Scale posture (SURVEY.md §7.6): content dedup is one digest groupBy
(the loader's manifest check in relational form); top-k accuracy is a
|rows|×|classes| expression scan + one rank window per row, bounded
by the class count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import bounded_collect, load, stage_dir

TOPK_CLASSES = 10
TOPK_BOOST = 400  # truth's score boost (scores are md5 % 1000)
TOPK_K = 3


@register(
    "source_idempotent_reload_dedup",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS nation_key,
           n_name AS name,
           CAST(2 AS BIGINT) AS times_seen,
           CAST(1 AS BIGINT) AS times_counted
    FROM nation
    ORDER BY nation_key
    """,
)
def source_idempotent_reload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent reload (SURVEY.md §2.1): the export lands TWICE — the
    original shard and a byte-identical retry under a different file
    name (the at-least-once delivery every uploader exhibits); the
    loader reads both, sees every record twice, and collapses them by
    full-row content digest to exactly-once semantics. The relation
    shows both numbers — times_seen = 2 (the duplication was real)
    and times_counted = 1 (the dedup worked) — and the oracle
    restates the once-counted rows, so either a lost record OR a
    double-count breaks the hash. Dedup by NAME would pass this
    fixture and fail the real world (retries rename); dedup by
    CONTENT is the pinned discipline.

    Exactness: md5 row digests; integer counts.

    Scale: one digest groupBy — the loader-manifest check in
    relational form; at 100 TB the digest is per-FILE (cheaper) with
    this per-row form as the audit when file digests disagree.
    """
    stage = stage_dir("idempotent_reload")
    rows = sorted(
        (r.n_nationkey, r.n_name)
        for r in bounded_collect(
            load(spark, sf_dir, "nation"), max_rows=25, what="nation dim"
        )
    )
    body = "".join(f"{k},{n}\n" for k, n in rows)
    for name in ("part-0.csv", "retry-4f2a.csv"):  # byte-identical pair
        with open(os.path.join(stage, name), "w") as f:
            f.write("nation_key,name\n")
            f.write(body)
    back = (
        spark.read.option("header", "true")
        .schema("nation_key bigint, name string")
        .csv(stage)
    )
    return (
        back.groupBy(
            F.md5(F.concat_ws("\x1f", "nation_key", "name")).alias("digest")
        )
        .agg(
            F.min("nation_key").alias("nation_key"),
            F.min("name").alias("name"),
            F.count("*").alias("times_seen"),
            F.lit(1).cast("long").alias("times_counted"),
        )
        .select("nation_key", "name", "times_seen", "times_counted")
        .orderBy("nation_key")
    )


@register(
    "ml_topk_accuracy_exact",
    oracle=f"""
    WITH scored AS (
        SELECT e.vec_id, CAST(e.label AS BIGINT) AS y, c.cls,
               CAST(('0x' || substr(md5('tk_' || CAST(e.vec_id AS VARCHAR)
                         || '_' || CAST(c.cls AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 1000
                   + CASE WHEN c.cls = e.label THEN {TOPK_BOOST} ELSE 0 END
                   AS score
        FROM embeddings e,
             (SELECT unnest(range({TOPK_CLASSES})) AS cls) c
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
    """Top-k accuracy (SURVEY.md §2.11): per row, {TOPK_CLASSES} class
    scores (md5 integers, truth boosted by {TOPK_BOOST} of 1000 — a
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
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("y")
    )
    cls = spark.range(TOPK_CLASSES).select(F.col("id").cast("long").alias("cls"))
    score = (
        md5_long(
            F.concat(
                F.lit("tk_"), F.col("vec_id").cast("string"), F.lit("_"), F.col("cls").cast("string")
            )
        )
        % 1000
        + F.when(F.col("cls") == F.col("y"), TOPK_BOOST).otherwise(0)
    )
    scored = (
        e.crossJoin(F.broadcast(cls))
        .select("vec_id", "y", "cls", score.alias("score"))
    )
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
