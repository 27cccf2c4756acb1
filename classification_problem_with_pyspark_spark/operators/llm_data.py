"""LLM training-data assembly (SURVEY.md §2.12): sequence packing and
chunking, hash splits and shards, curricula, mixture resampling and
temperature weights, token-budget and priority selection, preference
pairs, judge and length biases, and the evaluation estimators
(self-consistency voting, pass@k, group-relative advantages).

Provenance note (SURVEY.md §0): the reference repository was empty when
these keys were written, so no file:line citations into it are
possible. The patterns are public knowledge — concatenate-and-split
packing, temperature-scaled multilingual sampling, weighted reservoir
sampling (Efraimidis & Spirakis 2006), greedy knapsack selection,
preference-pair construction for DPO-style tuning, position-bias audits
of LLM judges, self-consistency voting (Wang et al. 2023), the unbiased
pass@k estimator (Chen et al. 2021) and GRPO-style group-relative
advantages — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline: every split, shard, sample and simulated
outcome is a pure md5 function of the row key (no RNG state), so both
engines re-derive the same membership; counts are exact integers and
rates fold as floor-micro divisions.

Scale posture (SURVEY.md §7.6): assignment is a scan-side key function;
windows partition by language, source, shard or score bucket, never the
whole corpus; totals ride 1-row broadcasts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.operators.llm import split_name
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "llm_doc_packing",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum_tokens
        FROM t
    )
    SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(FLOOR((cum_tokens - n_tokens) / 512) AS BIGINT) AS pack_id,
           CAST(cum_tokens - n_tokens
                - CAST(FLOOR((cum_tokens - n_tokens) / 512) AS BIGINT) * 512
                AS BIGINT) AS pack_offset
    FROM c
    """,
)
def llm_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for training-data prep (SURVEY.md §2.12):
    assign each document to a fixed-budget (512-token) pack by its
    cumulative token offset within its language stream — the standard
    'concat then split every N tokens' pretraining layout, where a doc
    belongs to the pack its FIRST token lands in.

    All-integer arithmetic over a per-lang running sum -> exactly
    hashable. Scale: the window partitions by lang and orders by doc_id;
    at 100 TB you'd sub-partition the stream (e.g. lang × shard of 1M
    docs) so no single partition serializes — same expression, finer key.
    """
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    start = F.col("cum_tokens") - F.col("n_tokens")
    pack = F.floor(start / 512).cast("long")
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        "cum_tokens",
        pack.alias("pack_id"),
        (start - pack * 512).cast("long").alias("pack_offset"),
    )


@register(
    "llm_chunking",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ), s AS (
        SELECT doc_id, toks, n,
               list_sort(list_distinct(list_append(
                   generate_series(0, greatest(n - 32, 0), 24),
                   greatest(n - 32, 0)))) AS starts
        FROM t
    ), e AS (
        SELECT doc_id, toks, n,
               unnest(starts) AS chunk_start,
               generate_subscripts(starts, 1) - 1 AS chunk_idx
        FROM s
    )
    SELECT doc_id, chunk_idx, chunk_start,
           len(toks[chunk_start + 1 : chunk_start + 32]) AS n_chunk_tokens,
           array_to_string(toks[chunk_start + 1 : chunk_start + 32], ' ')
               AS chunk_text
    FROM e
    """,
)
def llm_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (SURVEY.md §2.12): split each
    document into 32-token windows with stride 24 (8-token overlap), plus
    a tail-aligned final window so no token is dropped — the standard
    prep for embedding/RAG indexing.

    Pure narrow projection: sequence/transform/posexplode inside codegen,
    no shuffle, no Python — scales embarrassingly. Chunk grids are
    deterministic on both engines (verified list semantics: Spark
    slice(a, s+1, 32) ≡ DuckDB a[s+1 : s+32]).
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    last_start = F.greatest(n - 32, F.lit(0))
    starts = F.array_sort(
        F.array_distinct(
            F.concat(
                F.sequence(F.lit(0), last_start, F.lit(24)),
                F.array(last_start),
            )
        )
    )
    t = docs.select("doc_id", toks.alias("toks"), starts.alias("starts"))
    e = t.select(
        "doc_id",
        "toks",
        F.posexplode("starts").alias("chunk_idx", "chunk_start"),
    )
    chunk = F.slice("toks", F.col("chunk_start") + 1, 32)
    return e.select(
        "doc_id",
        "chunk_idx",
        "chunk_start",
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@register(
    "llm_split_hash",
    oracle="""
    WITH assigned AS (
        SELECT lang,
               CASE WHEN bucket < 8 THEN 'train'
                    WHEN bucket = 8 THEN 'val'
                    ELSE 'test' END AS split,
               len(string_split(text, ' ')) AS n_tokens
        FROM (
            SELECT lang, text,
                   CAST(('0x' || substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 10 AS bucket
            FROM documents
        ) b
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned
    GROUP BY split, lang
    """,
)
def llm_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by portable content hash
    (md5(doc_id) mod 10 -> 80/10/10), reported per (split, lang).

    The canonical training-data split at scale: assignment is a pure
    function of the row key — no shuffle, no seed state, stable across
    re-runs and engines, and any worker can re-derive it. md5 (not
    engine-private hash) keeps Spark and DuckDB bit-identical; all
    outputs are integer counts.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            split_name("doc_id").alias("split"),
            "lang",
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@register(
    "llm_curriculum_stages",
    oracle="""
    WITH staged AS (
        SELECT lang,
               NTILE(4) OVER (PARTITION BY lang
                              ORDER BY length(text), doc_id) AS stage,
               length(text) AS n_len
        FROM documents
    )
    SELECT lang, stage,
           COUNT(*) AS n_docs,
           CAST(SUM(n_len) AS BIGINT) AS total_chars,
           MIN(n_len) AS min_chars,
           MAX(n_len) AS max_chars
    FROM staged
    GROUP BY lang, stage
    """,
)
def llm_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning staging: shortest-to-longest quartiles per
    language (NTILE over a per-lang window), with per-stage size stats.

    The window partitions by lang — never a global single-task sort; at
    100 TB each language sorts independently and NTILE's rank arithmetic
    is distributed by Spark's window exec. doc_id breaks length ties so
    stage assignment is deterministic. All-integer outputs.
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.length("text"), "doc_id")
    return (
        d.select(
            "lang",
            F.ntile(4).over(w).alias("stage"),
            F.length("text").alias("n_len"),
        )
        .groupBy("lang", "stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_len").alias("total_chars"),
            F.min("n_len").alias("min_chars"),
            F.max("n_len").alias("max_chars"),
        )
    )


_MIX_RATES = {"en": 1.0, "zh": 0.5, "es": 0.25, "fr": 0.75, "de": 0.5}


def _mix_rate_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {int(rate * 1000)}" for lang, rate in _MIX_RATES.items()
    )
    return f"CASE lang {whens} ELSE 100 END"


@register(
    "llm_mixture_resample",
    oracle=f"""
    WITH hashed AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(('0x' || substr(md5('mix_' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 1000 AS h,
               {_mix_rate_sql()} AS keep_below
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_candidates,
           CAST(SUM(CASE WHEN h < keep_below THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN h < keep_below THEN n_tokens ELSE 0 END) AS BIGINT) AS sampled_tokens
    FROM hashed
    GROUP BY lang
    """,
)
def llm_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture resampling: each language is kept at a
    target rate (en 100%, fr 75%, zh/de 50%, es 25%) by thresholding a
    portable content hash — md5('mix_'||doc_id) mod 1000 < rate·1000.

    The mixture-weighting step of corpus assembly as a pure key function:
    no RNG state, no shuffle, identical membership on every engine and
    re-run (unlike sampleBy, whose selection is seed+partitioning
    dependent — kept as `llm_sample_stratified` for the Bernoulli form).
    """
    d = load(spark, sf_dir, "documents")
    h = md5_long(F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))) % 1000
    keep_below = F.lit(100)
    for lang, rate in _MIX_RATES.items():
        keep_below = F.when(F.col("lang") == lang, int(rate * 1000)).otherwise(keep_below)
    kept = h < keep_below
    return (
        d.select(
            "lang",
            F.size(F.split("text", " ")).alias("n_tokens"),
            kept.alias("kept"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_sampled"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0)).alias(
                "sampled_tokens"
            ),
        )
    )


@register(
    "llm_mixture_temperature",
    oracle="""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ), tot AS (
        SELECT SUM(n_docs) AS total FROM counts
    ), w AS (
        SELECT lang, n_docs,
               CAST(n_docs AS DOUBLE) / total AS p,
               pow(CAST(n_docs AS DOUBLE) / total, 0.5) AS wa
        FROM counts CROSS JOIN tot
    ), z AS (
        SELECT SUM(wa) AS zsum FROM w
    )
    SELECT lang, n_docs,
           ROUND(p, 6) AS corpus_share,
           ROUND(wa / zsum, 6) AS sample_weight,
           ROUND((wa / zsum) / p, 6) AS upweight_factor
    FROM w CROSS JOIN z
    """,
)
def llm_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (T=2, i.e. w ∝ p^(1/T) = √p) —
    the multilingual-pretraining standard for flattening a skewed corpus:
    high-resource languages are downweighted, low-resource upweighted,
    with the upweight factor per language reported (the number that says
    "zh is seen 1.8× more often than its corpus share"). Unlike
    llm_mixture_resample's FIXED rates, the weights here derive from the
    corpus itself — recompute after every corpus change.

    Shape: one count per lang (map-side partial), then two 1-row
    broadcast totals (corpus size, normalizer) — the per-language weight
    table this feeds is itself a broadcast input to the actual sampler
    (llm_sample_hash_stratified's rate-table pattern).
    """
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("total"))
    w = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("total")).alias("p"),
        F.pow(F.col("n_docs").cast("double") / F.col("total"), 0.5).alias("wa"),
    )
    z = w.agg(F.sum("wa").alias("zsum"))
    return w.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_docs",
        F.round("p", 6).alias("corpus_share"),
        F.round(F.col("wa") / F.col("zsum"), 6).alias("sample_weight"),
        F.round((F.col("wa") / F.col("zsum")) / F.col("p"), 6).alias("upweight_factor"),
    )


def shuffle_hash() -> Column:
    """md5(``'shuf_' || doc_id``) as BIGINT: a document's shuffle key; the
    key mod 8 is its shard."""
    return md5_long(F.concat(F.lit("shuf_"), F.col("doc_id").cast("string")))


@register(
    "llm_shuffle_shards",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5('shuf_' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM documents
    )
    SELECT doc_id, lang,
           h % 8 AS shard,
           ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos_in_shard
    FROM hashed
    """,
)
def llm_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle, sharded: md5 hash assigns each
    doc to one of 8 shards, and position within a shard is the rank of
    the hash (doc_id tie-break). Reading shards in (shard, pos) order IS
    a uniform random permutation of the corpus — the training-order
    shuffle — without any global sort: each shard sorts independently
    (partitioned window), so the pattern scales to any corpus size by
    raising the shard count.

    Contrast with a single ROW_NUMBER over md5(doc_id): same statistical
    shuffle, but one task sorts the world.
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.select("doc_id", "lang", shuffle_hash().alias("h"))
        .withColumn("shard", F.col("h") % 8)
        .select(
            "doc_id",
            "lang",
            "shard",
            F.row_number().over(w).alias("pos_in_shard"),
        )
    )


@register(
    "llm_shard_checksum_manifest",
    oracle="""
    WITH hashed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('shuf_' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 8 AS shard,
               md5(text) AS content_hash,
               length(text) AS n_chars
        FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           md5(string_agg(content_hash, '' ORDER BY content_hash))
               AS shard_checksum
    FROM hashed
    GROUP BY shard
    """,
)
def llm_shard_checksum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest with content checksums — the reproducibility record
    a training run stores next to its data: per shard (same md5 shard
    assignment as `llm_shuffle_shards`), doc count, char volume, and an
    ORDER-INSENSITIVE shard checksum (md5 over the sorted per-doc content
    hashes) that any later run can recompute to prove the shard is
    byte-identical. Sorting happens inside each shard's aggregation
    (collect_list → array_sort — bounded by shard size, 8-way parallel),
    never globally.
    """
    d = load(spark, sf_dir, "documents")
    hashed = d.select(
        (shuffle_hash() % 8).alias("shard"),
        F.md5("text").alias("content_hash"),
        F.length("text").alias("n_chars"),
    )
    return hashed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list("content_hash")), "").cast(
                "binary"
            )
        ).alias("shard_checksum"),
    )


@register(
    "llm_quality_bucket_token_budget",
    oracle="""
    WITH scored AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
               length(text) AS n_chars
        FROM documents
    ), deciled AS (
        SELECT doc_id, n_tokens,
               NTILE(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
        FROM scored
    ), per_decile AS (
        SELECT decile,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS decile_tokens
        FROM deciled GROUP BY decile
    ), cum AS (
        SELECT decile, n_docs, decile_tokens,
               CAST(SUM(decile_tokens) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tokens
        FROM per_decile
    )
    SELECT decile, n_docs, decile_tokens, cum_tokens,
           (cum_tokens <= 30000) AS fully_within_budget
    FROM cum
    """,
)
def llm_quality_bucket_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a token budget: rank documents into quality
    deciles (length as the stand-in score, deterministic (score, doc_id)
    order), then greedily admit whole deciles while the cumulative token
    count fits the 30k budget — the curation policy behind
    quality-first corpus downselection ("spend the budget on the best
    data first").

    The per-doc work is one scan pass; the decile assignment is the
    CLOSED-FORM ntile (r7/r8 de-globalization recipe, same as
    ml_lift_gain_deciles): the bucket-stitch global rank gives each
    document's rank under (n_chars DESC, doc_id), and SQL ntile(k) is
    a pure function of (rank, n) — the first n%k buckets hold
    n DIV k + 1 rows, the rest n DIV k. No document row ever passes
    through a single-task sort; the only single-partition window is
    the ≤1k-row range-normalized length-bucket grid (r11: distinct
    lengths track the corpus, so the old |distinct lengths| histogram
    grew with SF). All outputs are exact integers + a boolean.
    """
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    # r11 (trend gate): distinct document lengths track the corpus
    # (313→523 per SF decade — lengths are near-unique, not a fixed
    # domain), so the rank is the bucket-stitch global rank with
    # RANGE-NORMALIZED buckets (fixed 1024 buckets over the broadcast
    # min/max length — ≤1k-row grid at any corpus size) instead of the
    # hand-rolled distinct-length histogram.
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_rank,
    )

    tot_n = scored.agg(F.count("*").cast("long").alias("n"))
    deciled = (
        bucketed_global_rank(
            scored,
            "n_chars",
            [F.asc("doc_id")],
            descending=True,
            value_range_k=1024,
            out="rn",
        )
        .crossJoin(F.broadcast(tot_n))
        .withColumn(
            "decile",
            F.expr(
                "CAST(CASE WHEN rn <= (n % 10) * (n DIV 10 + 1) "
                "THEN (rn - 1) DIV (n DIV 10 + 1) + 1 "
                "ELSE n % 10 "
                "+ (rn - (n % 10) * (n DIV 10 + 1) - 1) "
                "DIV greatest(1, n DIV 10) + 1 END AS INT)"
            ),
        )
    )
    per_decile = deciled.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("decile_tokens"),
    )
    return (
        grid_cumsum(
            per_decile,
            ["decile"],
            [("cum_raw", "decile_tokens")],
            keep=["decile", "n_docs", "decile_tokens"],
        )
        .select(
            "decile",
            "n_docs",
            "decile_tokens",
            F.col("cum_raw").cast("long").alias("cum_tokens"),
        )
        .withColumn("fully_within_budget", F.col("cum_tokens") <= 30000)
    )


@register(
    "llm_sample_weighted_priority",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS UBIGINT) AS h
        FROM documents
        WHERE n_chars > 0
    ), ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(h AS DOUBLE) / n_chars, doc_id) AS rank
        FROM keyed
    )
    SELECT lang, CAST(rank AS BIGINT) AS sample_rank, doc_id, n_chars
    FROM ranked WHERE rank <= 20
    ORDER BY lang, sample_rank
    """,
)
def llm_sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling by hash priority (SURVEY.md
    §2.12): top-20 documents per lang under priority u/w, where u is a
    32-bit uniform derived from md5(doc_id) and w = n_chars. Ordering
    by uniform-over-weight selects each document with probability
    increasing in its weight — the deterministic, reproducible cousin
    of Efraimidis–Spirakis A-ES weighted reservoir sampling (A-ES uses
    u^(1/w); u/w has the same monotone-in-weight selection property
    without pow(), whose libm rounding differs across engines).

    Training-data use: length-weighted corpus subsampling that any two
    runs — or two ENGINES, as the oracle proves — reproduce exactly,
    because the "randomness" is a hash, not an RNG. The single double
    division u/w is one IEEE op (bit-identical both sides); ties broken
    by doc_id for a total order.

    Scale: one shuffle on lang for the rank window; at 100 TB pre-cut
    with a per-lang approximate priority threshold (classic two-pass
    top-k) so the exact window sees only ~k·P candidates per lang.
    """
    d = load(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    h = md5_long(F.col("doc_id").cast("string"), 8)
    keyed = d.select(
        "doc_id", "lang", "n_chars", (h.cast("double") / F.col("n_chars")).alias("pr")
    )
    w = Window.partitionBy("lang").orderBy("pr", "doc_id")
    return (
        keyed.select(
            "lang",
            F.row_number().over(w).alias("sample_rank"),
            "doc_id",
            "n_chars",
        )
        .where(F.col("sample_rank") <= 20)
        .orderBy("lang", "sample_rank")
    )


PROFILE_SIZE = 200


@register(
    "llm_domain_affinity_resample",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    feats AS (
        SELECT DISTINCT doc_id, lang,
               array_to_string(list_slice(toks, i, i + 2), ' ') AS feat
        FROM (
            SELECT doc_id, lang, toks,
                   unnest(range(1, len(toks) - 1)) AS i
            FROM base
        ) x
    ),
    profile AS (
        SELECT feat FROM (
            SELECT feat, count(DISTINCT doc_id) AS df
            FROM feats WHERE lang = 'en' GROUP BY feat
        ) d
        ORDER BY df DESC, feat LIMIT {PROFILE_SIZE}
    ),
    scored AS (
        SELECT t.doc_id, t.lang,
               CAST(count(*) AS BIGINT) AS n_feats_distinct,
               CAST(SUM(CASE WHEN p.feat IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_domain_hits,
               CAST((1000000 * SUM(CASE WHEN p.feat IS NOT NULL
                                        THEN 1 ELSE 0 END)) // count(*)
                    AS BIGINT) AS affinity_micro
        FROM feats t LEFT JOIN profile p USING (feat)
        GROUP BY t.doc_id, t.lang
    )
    SELECT doc_id, lang, n_feats_distinct, n_domain_hits, affinity_micro
    FROM scored
    WHERE CAST(('0x' || substr(md5('resample_' || CAST(doc_id AS VARCHAR)),
                               1, 15)) AS BIGINT) % 1000000 < affinity_micro
    """,
)
def llm_domain_affinity_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling toward a target domain
    (SURVEY.md §2.12): score every document by lexical affinity to the
    English-subcorpus profile (its top-200 THREE-TOKEN shingles by
    document frequency), then accept each doc with probability equal to
    its affinity via a deterministic md5-threshold draw — the
    data-selection-by-importance-resampling recipe (Xie et al. 2023)
    with n-gram features and a portable acceptance function, beside
    `llm_mixture_resample`'s fixed per-source rates. Features are
    3-shingles, NOT unigrams: this corpus draws from a 31-word pool, so
    every unigram is in any top-200 profile and unigram affinity
    degenerates to 1.0 for all docs (measured) — the shingle space
    (~20k) actually separates domains (affinity spans 0–0.30 at
    sf0.01, accepting 23/500 docs).

    Exactness: affinity folds as floor-micro of two exact counts; the
    profile cut is total-order deterministic (df DESC, shingle ASC);
    acceptance compares an md5-derived residue against affinity_micro —
    no RNG, no float probability anywhere.

    Scale: the profile is a bounded broadcast (200 rows); the only
    fact-sized shuffles are the distinct (doc, shingle) explode and the
    doc-keyed rollup, both map-side combinable. At 100 TB the features
    would be hashed buckets (fixed-width profile) exactly as DSIR does.
    """
    d = load(spark, sf_dir, "documents")
    feats = (
        word_ngrams(d, 3, "doc_id", "lang")
        .withColumnRenamed("ngram", "feat")
        .distinct()
    )
    profile = (
        feats.where(F.col("lang") == "en")
        .groupBy("feat")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("df"), "feat")
        .limit(PROFILE_SIZE)
        .select("feat", F.lit(1).alias("hit"))
    )
    scored = (
        feats.join(F.broadcast(profile), "feat", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_feats_distinct"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_domain_hits"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END))"
                " DIV count(*) AS BIGINT)"
            ).alias("affinity_micro"),
        )
    )
    draw = md5_long(F.concat(F.lit("resample_"), F.col("doc_id").cast("string"))) % 1000000
    return scored.where(draw < F.col("affinity_micro")).select(
        "doc_id", "lang", "n_feats_distinct", "n_domain_hits", "affinity_micro"
    )


SELECT_BUDGET_TOKENS = 12_000


@register(
    "llm_budgeted_selection_greedy",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS value_distinct
        FROM documents
    ),
    ranked AS (
        SELECT *,
               (1000000 * value_distinct) // n_tokens AS density_micro,
               row_number() OVER (
                   ORDER BY (1000000 * value_distinct) // n_tokens DESC,
                            doc_id) AS rk
        FROM scored WHERE n_tokens > 0
    ),
    running AS (  -- 0/1 greedy: take while the PRIOR total still fits
        SELECT *,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY rk
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS tokens_before
        FROM ranked
    ),
    selected AS (
        SELECT * FROM running
        WHERE tokens_before + n_tokens <= {SELECT_BUDGET_TOKENS}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_used,
           CAST(SUM(value_distinct) AS BIGINT) AS value_total,
           CAST(MIN(density_micro) AS BIGINT) AS worst_density_micro
    FROM selected
    GROUP BY source
    ORDER BY source
    """,
)
def llm_budgeted_selection_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted greedy selection (SURVEY.md §2.12): pick documents by
    VALUE DENSITY (distinct words per token — an exact-integer
    quality proxy) until the {SELECT_BUDGET_TOKENS}-token budget
    closes — the greedy knapsack every budget-constrained curation
    pipeline runs (the optimum is NP; the density greedy is one sort
    and a ½-approximation). This is 0/1 greedy: an item that no
    longer fits is SKIPPED and the scan continues — smaller
    lower-ranked documents can still enter (the behavior that
    distinguishes knapsack-greedy from the prefix cut
    `llm_quality_bucket_token_budget` takes; both live in the
    registry deliberately).

    Exactness: integer tokens and distinct counts; floor-micro
    density; the take/skip rule compares exact cumulative sums.

    Scale: no global sort at all — density_micro is BOUNDED in
    [0, 1e6] by construction (floor of a ratio ≤ 1 in micro units),
    but 1e6 distinct values is still a 1M-row single-task ceiling, so
    the per-density cumsum is the bucket-stitch form (r11: 2^12-micro
    buckets cap the only single-task window at ≤245 rows); the
    within-density prefix sum is PARTITIONED by density_micro.
    The (density DESC, doc_id) prefix total each row needs is
    base + its own partition's prior sum — exact, and every shuffle
    key is bounded.
    """
    scored = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("long")
        .alias("value_distinct"),
    ).where(F.col("n_tokens") > 0)
    ranked = scored.select(
        "*",
        F.expr("(1000000 * value_distinct) DIV n_tokens").alias("density_micro"),
    )
    # r11 (trend gate): the per-density histogram is domain-bounded at
    # 1e6 distinct micro values — but that is a 1M-row single-task
    # ceiling at real scale (the ml_lift_gain_deciles class, r10).
    # Bucket-stitch the descending cumsum: 2^12-micro buckets cap the
    # only single-task window at <=245 rows at any SF.
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_cumsum,
    )

    base = bucketed_global_cumsum(
        ranked.groupBy("density_micro").agg(F.sum("n_tokens").alias("tsum")),
        "density_micro",
        [],
        [("base_tokens", "tsum")],
        descending=True,
        bucket_bits=12,
        frame_end=-1,
    ).select("density_micro", "base_tokens")
    w_val = (
        Window.partitionBy("density_micro")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    running = ranked.join(F.broadcast(base), "density_micro").withColumn(
        "tokens_before",
        (
            F.col("base_tokens")
            + F.coalesce(F.sum("n_tokens").over(w_val), F.lit(0))
        ).cast("long"),
    )
    selected = running.where(
        F.col("tokens_before") + F.col("n_tokens") <= SELECT_BUDGET_TOKENS
    )
    return (
        selected.groupBy("source")
        .agg(
            F.count("*").alias("n_selected"),
            F.sum("n_tokens").cast("long").alias("tokens_used"),
            F.sum("value_distinct").cast("long").alias("value_total"),
            F.min("density_micro").cast("long").alias("worst_density_micro"),
        )
        .orderBy("source")
    )


_PREF_PAIRS_ORACLE = """
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
    """


@register("llm_preference_pairs", oracle=_PREF_PAIRS_ORACLE)
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
    "llm_preference_length_bias",
    oracle=f"""
    WITH pairs AS ({_PREF_PAIRS_ORACLE}),
    lens AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n FROM documents),
    j AS (
        SELECT p.lang, c.n AS chosen_len, r.n AS rejected_len
        FROM pairs p
        JOIN lens c ON p.chosen_doc_id = c.doc_id
        JOIN lens r ON p.rejected_doc_id = r.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN chosen_len > rejected_len THEN 1 ELSE 0 END)
                AS BIGINT) AS n_chosen_longer,
           CAST((1000000 * SUM(CASE WHEN chosen_len > rejected_len
                                    THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS longer_share_micro,
           CAST((1000000 * SUM(chosen_len - rejected_len)) // count(*)
                AS BIGINT) AS mean_gap_micro
    FROM j GROUP BY lang ORDER BY lang
    """,
)
def llm_preference_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bias audit over the DPO preference pairs (SURVEY.md
    §2.12): per language, how often the CHOSEN document is simply the
    longer one, and the mean signed length gap — the check run before
    training a reward model, because preference data where chosen ≫
    rejected in length teaches "longer is better" instead of quality
    (the classic RLHF length-hacking failure). Reuses the registered
    `llm_preference_pairs` construction on BOTH sides (the Spark fn is
    called directly; the oracle embeds its oracle verbatim), so the
    audit can never drift from the pairs it audits.

    Exactness: lengths are exact; shares fold floor-micro; the signed
    mean gap uses the verified trunc-toward-zero division semantics.

    Scale: the pair table is bounded (≤ 2 rows per (lang, source)
    group); the audit is two broadcast-sized joins and a 5-row rollup.
    """
    pairs = llm_preference_pairs(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n")
    )
    j = (
        pairs.join(
            d.select(F.col("doc_id").alias("c_id"), F.col("n").alias("chosen_len")),
            F.col("chosen_doc_id") == F.col("c_id"),
        )
        .join(
            d.select(
                F.col("doc_id").alias("r_id"), F.col("n").alias("rejected_len")
            ),
            F.col("rejected_doc_id") == F.col("r_id"),
        )
        .select("lang", "chosen_len", "rejected_len")
    )
    longer = (F.col("chosen_len") > F.col("rejected_len")).cast("long")
    return (
        j.groupBy("lang")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(longer).alias("n_chosen_longer"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN chosen_len > rejected_len"
                " THEN 1 ELSE 0 END)) DIV count(*) AS BIGINT)"
            ).alias("longer_share_micro"),
            F.expr(
                "CAST((1000000 * SUM(chosen_len - rejected_len)) DIV count(*)"
                " AS BIGINT)"
            ).alias("mean_gap_micro"),
        )
        .orderBy("lang")
    )


BIAS_GAP = 40  # first position wins any contest with |len gap| below this
PAIR_STRIDE = 7
PAIR_MOD = 3


@register(
    "llm_judge_position_bias",
    oracle=f"""
    WITH d1 AS (
        SELECT doc_id, source, length(text) AS len FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb,
               a.len AS la, b.len AS lb
        FROM d1 a JOIN d1 b ON b.doc_id = a.doc_id + {PAIR_STRIDE}
        WHERE CAST(('0x' || substr(md5('bt_' || CAST(a.doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % {PAIR_MOD} = 0
          AND a.len <> b.len
    ),
    judged AS (  -- judge(first, second): first wins close contests
        SELECT ida, idb, la, lb,
               CASE WHEN la - lb > -{BIAS_GAP} THEN 1 ELSE 0 END
                   AS a_wins_shown_first,
               CASE WHEN lb - la > -{BIAS_GAP} THEN 0 ELSE 1 END
                   AS a_wins_shown_second
        FROM pairs
    )
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(CASE WHEN a_wins_shown_first = a_wins_shown_second
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
        CAST(SUM(CASE WHEN a_wins_shown_first <> a_wins_shown_second
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_flipped,
        CAST(SUM(CASE WHEN abs(la - lb) < {BIAS_GAP} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_close_contests,
        CAST((1000000 * SUM(CASE WHEN a_wins_shown_first <> a_wins_shown_second
                                 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
            AS flip_rate_micro
    FROM judged
    """,
)
def llm_judge_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judge position-bias audit (SURVEY.md §2.12): every pack-85
    tournament pair is judged TWICE — (A, B) and (B, A) — by a
    deterministic judge with an injected first-position advantage
    (the first answer wins any contest whose length gap is inside
    {BIAS_GAP}); the census counts consistent verdicts vs flips. By
    construction the flips are EXACTLY the close contests (asserted),
    which is the real phenomenon's shape too: position bias lives
    where the true quality gap is small (Zheng et al., MT-Bench).
    Arena pipelines counterbalance order because of this number; the
    audit is how you know you must.

    Exactness: integer lengths, verdicts, counts, floor-micro rate.

    Scale: both orders are pure expressions over the one pair table —
    auditing costs nothing beyond the tournament itself.
    """
    d1 = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("len")
    )
    a = d1.select(F.col("doc_id").alias("ida"), F.col("len").alias("la"))
    b = d1.select(F.col("doc_id").alias("idb"), F.col("len").alias("lb"))
    phash = md5_long(F.concat(F.lit("bt_"), F.col("ida").cast("string")))
    pairs = (
        a.join(b, F.col("idb") == F.col("ida") + PAIR_STRIDE)
        .where((phash % PAIR_MOD == 0) & (F.col("la") != F.col("lb")))
    )
    first = F.when(F.col("la") - F.col("lb") > -BIAS_GAP, 1).otherwise(0)
    second = F.when(F.col("lb") - F.col("la") > -BIAS_GAP, 0).otherwise(1)
    judged = pairs.select(
        "la",
        "lb",
        first.alias("w1"),
        second.alias("w2"),
    )
    return judged.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("w1") == F.col("w2"), 1).otherwise(0))
        .cast("long")
        .alias("n_consistent"),
        F.sum(F.when(F.col("w1") != F.col("w2"), 1).otherwise(0))
        .cast("long")
        .alias("n_flipped"),
        F.sum(
            F.when(F.abs(F.col("la") - F.col("lb")) < BIAS_GAP, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_close_contests"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN w1 <> w2 THEN 1 ELSE 0 END)) "
            "DIV COUNT(*) AS BIGINT)"
        ).alias("flip_rate_micro"),
    )


def _samples_sql(n: int) -> str:
    """The oracle twin of ``_sample_outcomes``: the body of a ``samples``
    CTE with ``n`` outcomes per document."""
    return f"""SELECT d.doc_id, d.source, i.i,
               CASE WHEN CAST(('0x' || substr(md5('pass_' || CAST(d.doc_id AS VARCHAR)
                                 || '_' || CAST(i.i AS VARCHAR)), 1, 15)) AS BIGINT)
                         % 100
                       < 20 + CAST(('0x' || substr(md5('diff_'
                                 || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 60
                    THEN 1 ELSE 0 END AS ok
        FROM documents d,
             (SELECT unnest(range({n})) AS i) i"""


def _sample_outcomes(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """(doc_id, source, i, ok): ``n`` synthetic sample outcomes per task
    (document). Sample i passes (ok = 1) when md5('pass_<doc>_<i>') mod 100
    is below the task's difficulty, 20 + md5('diff_<doc>') mod 60; the
    self-consistency vote and pass@k keys read the same outcomes."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    idx = spark.range(n).select(F.col("id").cast("long").alias("i"))
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
    return d.crossJoin(F.broadcast(idx)).select("doc_id", "source", "i", ok.alias("ok"))


VOTE_N = 9  # samples per task (odd — no tie rule needed)
VOTE_MAJ = 5


@register(
    "llm_self_consistency_vote",
    oracle=f"""
    WITH samples AS (
        {_samples_sql(VOTE_N)}
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
    {VOTE_N} samples (``_sample_outcomes``, shared DELIBERATELY with
    `llm_eval_pass_at_k` so the two keys describe the same corpus) and
    score the MAJORITY vote against the single-sample baseline
    (sample 0) — Wang et al.'s
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
    per_task = (
        _sample_outcomes(spark, sf_dir, VOTE_N)
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


N_SAMPLES = 10  # samples drawn per task
PASS_K = 5  # the k in the headline pass@k
_DEN5 = 10 * 9 * 8 * 7 * 6  # C(10,5) product-form denominator = 30240


@register(
    "llm_eval_pass_at_k",
    oracle=f"""
    WITH samples AS (
        {_samples_sql(N_SAMPLES)}
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
    per_task = (
        _sample_outcomes(spark, sf_dir, N_SAMPLES)
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
    "llm_group_advantage_normalize",
    oracle="""
    WITH rewards AS (
        SELECT doc_id, source,
               (1000000 * CAST(len(list_distinct(string_split(text, ' ')))
                               AS BIGINT))
                   // CAST(len(string_split(text, ' ')) AS BIGINT)
                   AS reward_micro
        FROM documents
    ),
    moments AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(reward_micro) AS BIGINT) AS s,
               CAST(SUM(reward_micro * reward_micro) AS BIGINT) AS q
        FROM rewards GROUP BY source
    )
    SELECT r.doc_id, r.source, r.reward_micro,
           CAST(m.s // m.n AS BIGINT) AS group_mean_micro,
           CAST(round(sqrt(CAST(m.n * m.q - m.s * m.s AS DOUBLE)) / m.n)
                AS BIGINT) AS group_std_micro,
           CASE WHEN m.n * m.q - m.s * m.s = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(round(1000000 *
                     (CAST(r.reward_micro AS DOUBLE)
                      - CAST(m.s AS DOUBLE) / m.n)
                     / (sqrt(CAST(m.n * m.q - m.s * m.s AS DOUBLE)) / m.n))
                     AS BIGINT) END AS advantage_micro
    FROM rewards r JOIN moments m ON m.source = r.source
    ORDER BY r.doc_id
    """,
)
def llm_group_advantage_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative advantage normalization (SURVEY.md §2.12): each
    document's reward (micro type-token ratio — the deterministic
    stand-in for a scalar reward-model score) standardized WITHIN its
    source group: A = (r − μ_g)/σ_g. This is the GRPO-style
    per-prompt-group baseline that removes the need for a learned value
    function — the group mean IS the baseline, the std the scale — and
    the exact shape a reward-normalization stage has in an RL
    post-training data pipeline (groups = completions per prompt).

    Exactness: rewards and group moments (n, Σr, Σr²) are exact
    BIGINTs; σ and the z-score are ONE double expression built from
    those integers with the identical tree on both engines, rounded to
    micro; zero-variance groups (n·Q = S²) clamp A to 0 via an integer
    predicate — no NaN ever crosses the contract.

    Scale: one map-side-combinable groupBy for moments (|groups| rows),
    one broadcast join back over the corpus — embarrassingly parallel
    at any size; int64 headroom: r ≤ 1e6 → n·Q ≤ n·corpus·1e12, inside
    int64 through sf10.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    rewards = d.select(
        "doc_id",
        "source",
        F.expr(
            "(1000000 * CAST(size(array_distinct(split(text, ' '))) AS BIGINT))"
            " DIV CAST(size(split(text, ' ')) AS BIGINT)"
        ).alias("reward_micro"),
    )
    moments = rewards.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("reward_micro").alias("s"),
        F.sum(F.col("reward_micro") * F.col("reward_micro")).alias("q"),
    )
    return (
        rewards.join(F.broadcast(moments), "source")
        .select(
            "doc_id",
            "source",
            "reward_micro",
            F.expr("CAST(s DIV n AS BIGINT)").alias("group_mean_micro"),
            F.expr(
                "CAST(round(sqrt(CAST(n * q - s * s AS DOUBLE)) / n) AS BIGINT)"
            ).alias("group_std_micro"),
            F.expr(
                "CASE WHEN n * q - s * s = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(round(1000000 *"
                " (CAST(reward_micro AS DOUBLE) - CAST(s AS DOUBLE) / n)"
                " / (sqrt(CAST(n * q - s * s AS DOUBLE)) / n)) AS BIGINT) END"
            ).alias("advantage_micro"),
        )
        .orderBy("doc_id")
    )
