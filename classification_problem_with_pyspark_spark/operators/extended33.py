"""Round-3 extension pack #33: economic price indices, the distributed-
dedup shard-loss audit, and stylometric source-profile distances.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — Laspeyres/Paasche price indices (the CPI formulas), the
within-shard-dedup recall loss every sharded pipeline must measure (a
duplicate pair split across shards is invisible to per-shard dedup), and
frequency-profile stylometry (the Burrows-Delta lineage, here with an
exact L1 distance instead of z-scored deltas) — re-expressed on the
public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): index numerators take
per-part integer floor divisions (E₁·Q₀ DIV Q₁ — documented floor
slack) before exact summation; shard-loss pair counts are n(n−1)/2
integer combinatorics over exact per-(hash, shard) counts; style
profiles are floor-micro token frequencies and distances are integer L1
sums. Zero floats in the pack.

Scale posture (SURVEY.md §7.6): price indices reduce facts to one
(part, period) aggregate; shard loss reuses the shared CDC chunk
pipeline plus two bounded hash-keyed groupBys; stylometry reduces to a
(source, token) aggregate against a broadcast top-K vocabulary, and the
pair matrix is sources², never tokens².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.operators.extended25 import (
    CDC_CHUNKS_SQL,
    cdc_chunks,
)
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

N_SHARDS = 8  # dedup shard count for the loss audit
STYLE_TOP_K = 20  # vocabulary size for the style profiles


@register(
    "agg_price_index",
    oracle="""
    WITH b AS (
        SELECT epoch_us(min(o_orderdate))
               + (epoch_us(max(o_orderdate)) - epoch_us(min(o_orderdate))) // 2
                   AS sp
        FROM orders
    ),
    f AS (
        SELECT l.l_partkey AS part,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS ext_cents,
               CAST(round(l.l_quantity) AS BIGINT) AS qty,
               epoch_us(o.o_orderdate) >= (SELECT sp FROM b) AS cur
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    per AS (
        SELECT part,
               CAST(SUM(CASE WHEN NOT cur THEN ext_cents ELSE 0 END)
                    AS BIGINT) AS e0,
               CAST(SUM(CASE WHEN NOT cur THEN qty ELSE 0 END) AS BIGINT)
                   AS q0,
               CAST(SUM(CASE WHEN cur THEN ext_cents ELSE 0 END) AS BIGINT)
                   AS e1,
               CAST(SUM(CASE WHEN cur THEN qty ELSE 0 END) AS BIGINT) AS q1
        FROM f GROUP BY part
        HAVING SUM(CASE WHEN NOT cur THEN qty ELSE 0 END) > 0
           AND SUM(CASE WHEN cur THEN qty ELSE 0 END) > 0
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_common_parts,
               CAST(SUM(e0) AS BIGINT) AS sum_e0,
               CAST(SUM(e1) AS BIGINT) AS sum_e1,
               CAST(SUM((e1 * q0) // q1) AS BIGINT) AS lasp_num,
               CAST(SUM((e0 * q1) // q0) AS BIGINT) AS paas_den
        FROM per
    )
    SELECT n_common_parts,
           CAST((1000000 * lasp_num) // sum_e0 AS BIGINT)
               AS laspeyres_micro,
           CAST((1000000 * sum_e1) // paas_den AS BIGINT) AS paasche_micro
    FROM s
    """,
)
def agg_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres and Paasche price indices between the two halves of
    the order timeline (SURVEY.md §2.4): quantity-weighted unit prices
    per part and period; Laspeyres weights price changes by BASE-period
    quantities (Σ p₁q₀ / Σ p₀q₀), Paasche by CURRENT-period quantities —
    the CPI formula pair, bracketing true price change from above and
    below. Only parts traded in both periods enter (same HAVING on both
    engines).

    Exactness: unit prices stay rational as E/Q; the cross terms take
    ONE per-part integer floor (E₁·Q₀ DIV Q₁), a documented sub-cent
    slack per part, then exact BIGINT summation and one final micro
    division — no float unit prices anywhere.

    Scale: one fact-sized (part, period) aggregate; the index algebra
    runs on the bounded per-part table.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    b = o.agg(
        F.expr(
            "unix_micros(min(o_orderdate))"
            " + (unix_micros(max(o_orderdate)) - unix_micros(min(o_orderdate)))"
            " DIV 2"
        ).alias("sp")
    )
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .crossJoin(F.broadcast(b))
        .select(
            F.col("l_partkey").alias("part"),
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias(
                "ext_cents"
            ),
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("qty"),
            (F.expr("unix_micros(o_orderdate)") >= F.col("sp")).alias("cur"),
        )
    )
    per = (
        f.groupBy("part")
        .agg(
            F.sum(F.when(~F.col("cur"), F.col("ext_cents")).otherwise(0)).alias(
                "e0"
            ),
            F.sum(F.when(~F.col("cur"), F.col("qty")).otherwise(0)).alias("q0"),
            F.sum(F.when(F.col("cur"), F.col("ext_cents")).otherwise(0)).alias(
                "e1"
            ),
            F.sum(F.when(F.col("cur"), F.col("qty")).otherwise(0)).alias("q1"),
        )
        .where((F.col("q0") > 0) & (F.col("q1") > 0))
    )
    s = per.agg(
        F.count("*").alias("n_common_parts"),
        F.sum("e0").alias("sum_e0"),
        F.sum("e1").alias("sum_e1"),
        F.sum(F.expr("(e1 * q0) DIV q1")).alias("lasp_num"),
        F.sum(F.expr("(e0 * q1) DIV q0")).alias("paas_den"),
    )
    return s.select(
        F.col("n_common_parts").cast("long").alias("n_common_parts"),
        F.expr("CAST((1000000 * lasp_num) DIV sum_e0 AS BIGINT)").alias(
            "laspeyres_micro"
        ),
        F.expr("CAST((1000000 * sum_e1) DIV paas_den AS BIGINT)").alias(
            "paasche_micro"
        ),
    )


@register(
    "llm_shard_dedup_loss_audit",
    oracle=f"""
    WITH {CDC_CHUNKS_SQL},
    sharded AS (
        SELECT chunk_hash,
               CAST(('0x' || substr(md5('shard_' || CAST(doc_id AS VARCHAR)),
                                    1, 15)) AS BIGINT) % {N_SHARDS} AS shard
        FROM chunks
    ),
    per_hash AS (
        SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n
        FROM sharded GROUP BY chunk_hash HAVING count(*) >= 2
    ),
    per_hash_shard AS (
        SELECT chunk_hash, shard, CAST(count(*) AS BIGINT) AS ns
        FROM sharded GROUP BY chunk_hash, shard
    ),
    tot AS (
        SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS total_pairs
        FROM per_hash
    ),
    within AS (
        SELECT CAST(SUM(ns * (ns - 1) // 2) AS BIGINT) AS within_pairs
        FROM per_hash_shard s JOIN per_hash h USING (chunk_hash)
    )
    SELECT CAST({N_SHARDS} AS BIGINT) AS n_shards,
           total_pairs, within_pairs,
           total_pairs - within_pairs AS cross_pairs,
           CAST((1000000 * (total_pairs - within_pairs)) // total_pairs
                AS BIGINT) AS loss_micro
    FROM tot, within
    """,
)
def llm_shard_dedup_loss_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-loss audit for distributed dedup (SURVEY.md §2.12): when a
    corpus is sharded by doc hash and dedup runs WITHIN shards (the
    cheap, no-global-shuffle deployment), every duplicate pair whose
    members land in different shards goes undetected. This key counts
    exactly that, over the shared CDC chunk-hash duplicate structure:
    total duplicate pairs, pairs co-located by an {N_SHARDS}-way doc
    shard, and the lost fraction — expected loss ≈ 1 − 1/S for
    hash-random sharding, which is WHY content-keyed (not doc-keyed)
    shuffling is the correct dedup partitioning; this audit is the
    number that justifies the shuffle.

    Exactness: pair counts are n(n−1)/2 combinatorics on exact counts
    (n even/odd both give integer halves); the loss folds floor-micro.

    Scale: reuses the shared chunk pipeline; the audit itself is two
    hash-keyed map-side-combinable groupBys — no pair materialization,
    the binomial identity does the pair counting.
    """
    chunks = cdc_chunks(spark, sf_dir)
    sharded = chunks.select(
        "chunk_hash",
        (
            md5_long(F.concat(F.lit("shard_"), F.col("doc_id").cast("string")))
            % N_SHARDS
        ).alias("shard"),
    )
    per_hash = (
        sharded.groupBy("chunk_hash")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
    )
    per_hash_shard = sharded.groupBy("chunk_hash", "shard").agg(
        F.count("*").alias("ns")
    )
    tot = per_hash.agg(
        F.sum(F.expr("n * (n - 1) DIV 2")).alias("total_pairs")
    )
    within = (
        per_hash_shard.join(per_hash, "chunk_hash")
        .agg(F.sum(F.expr("ns * (ns - 1) DIV 2")).alias("within_pairs"))
    )
    return tot.crossJoin(F.broadcast(within)).select(
        F.lit(N_SHARDS).cast("long").alias("n_shards"),
        F.col("total_pairs").cast("long").alias("total_pairs"),
        F.col("within_pairs").cast("long").alias("within_pairs"),
        (F.col("total_pairs") - F.col("within_pairs"))
        .cast("long")
        .alias("cross_pairs"),
        F.expr(
            "CAST((1000000 * (total_pairs - within_pairs)) DIV total_pairs"
            " AS BIGINT)"
        ).alias("loss_micro"),
    )


@register(
    "llm_source_style_distance",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY tok
        ) t ORDER BY c DESC, tok LIMIT {STYLE_TOP_K}
    ),
    src_tot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS tot
        FROM toks GROUP BY source
    ),
    prof AS (
        SELECT s.source, v.tok,
               CAST((1000000 * COALESCE(c.cnt, 0)) // s.tot AS BIGINT)
                   AS f_micro
        FROM src_tot s CROSS JOIN vocab v
        LEFT JOIN (
            SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
            FROM toks GROUP BY source, tok
        ) c ON c.source = s.source AND c.tok = v.tok
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(SUM(abs(a.f_micro - b.f_micro)) AS BIGINT) AS l1_micro
    FROM prof a JOIN prof b
      ON a.tok = b.tok AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
    """,
)
def llm_source_style_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stylometric distance between document sources (SURVEY.md
    §2.12): each source's frequency profile over the corpus' top-20
    tokens (floor-micro shares of the source's token mass), compared
    pairwise by exact L1 distance — the Burrows-Delta family of
    authorship/provenance analysis with an integer contract (L1 on
    exact micro frequencies instead of z-scored deltas, which would
    drag in stddev floats). Near-zero distances mark sources drawn from
    the same generator; outlier rows mark stylistic drift worth a
    mixture-weight review.

    Exactness: profiles are floor-micro of exact counts; distances are
    integer sums of absolute differences; the vocabulary cut is
    total-order deterministic (count DESC, token).

    Scale: one (source, token) aggregate against a broadcast top-K
    vocabulary; the pair matrix is sources² × K — bounded by the
    catalog of sources, never by corpus size.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(STYLE_TOP_K)
        .select("tok")
    )
    src_tot = toks.groupBy("source").agg(F.count("*").alias("tot"))
    cnts = toks.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    prof = (
        src_tot.crossJoin(F.broadcast(vocab))
        .join(cnts, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            F.expr(
                "CAST((1000000 * COALESCE(cnt, 0)) DIV tot AS BIGINT)"
            ).alias("f_micro"),
        )
    )
    a = prof.select(
        F.col("source").alias("source_a"),
        "tok",
        F.col("f_micro").alias("fa"),
    )
    bdf = prof.select(
        F.col("source").alias("source_b"),
        "tok",
        F.col("f_micro").alias("fb"),
    )
    return (
        a.join(bdf, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.abs(F.col("fa") - F.col("fb"))).cast("long").alias(
                "l1_micro"
            )
        )
        .orderBy("source_a", "source_b")
    )
