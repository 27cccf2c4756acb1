"""LLM-training-data pipeline operators (SURVEY.md §2.12, mandated by
BASELINE.json's north star): deduplication (exact / n-gram Jaccard /
SimHash / MinHash-LSH), similarity search (brute-force cosine + LSH),
text analysis (token stats, quality scoring, TF-IDF), language report.

Scale posture (the whole point of these operators at 100 TB):
- exact dedup: hash-groupBy — one shuffle on a 16-byte key, never on text;
- SimHash: explode→bit-vote→reassemble, all integer math, linear;
- n-gram Jaccard: candidate pairs restricted by a blocking key (lang) —
  the all-pairs form is only legal inside a block; MinHash-LSH is the
  unblocked scale path;
- brute-force cosine is the CORRECTNESS baseline (O(N²), oracle-checked);
  BucketedRandomProjectionLSH is the scale path (candidate generation via
  bucket-join, no full cross product).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.embedding_kernels import (
    as_matrix,
    cosine_topk,
    exact_topk,
)
from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.functions.vector import dot, norm
from classification_problem_with_pyspark_spark.plans.components import min_label_components
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows, path_for

STOPWORDS = ("data", "row", "query", "the", "of")


@register(
    "llm_dedup_exact_hash",
    oracle="""
    SELECT md5(lower(trim(text))) AS text_hash,
           COUNT(*) AS dup_cnt,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def llm_dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate detection: md5 over normalized text, keep groups
    with >1 member, keeper = lowest doc_id (deterministic survivorship).

    At scale the shuffle key is the 16-byte digest, never the document —
    dedup of 100 TB of text shuffles only hashes + ids.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.lower(F.trim("text"))).alias("text_hash"))
        .agg(F.count("*").alias("dup_cnt"), F.min("doc_id").alias("keeper_doc_id"))
        .where(F.col("dup_cnt") > 1)
    )


@register(
    "llm_dedup_ngram_jaccard",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ts
        FROM documents
    )
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
                 / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 6) AS jaccard
    FROM toks a
    JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
          / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.8
    """,
)
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: exact token-set Jaccard ≥ 0.8 over candidate
    pairs blocked by lang (SURVEY.md §2.12).

    Blocking is what makes pairwise comparison legal: pairs are generated
    per block, never across the whole corpus. |A∩B| and |A∪B| are integer
    sizes, so the ratio is bit-identical on both engines.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("ts")
    )
    a = toks.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"), F.col("ts").alias("ts_a")
    )
    b = toks.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"), F.col("ts").alias("ts_b")
    )
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size("ts_a") + F.size("ts_b") - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, (F.col("lang_a") == F.col("lang_b")) & (F.col("doc_a") < F.col("doc_b")))
        .where(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "llm_dedup_simhash",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        )
    ), th AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(term), 1, 8))::UBIGINT AS BIGINT) AS h
        FROM tok
    ), bits AS (SELECT unnest(range(16)) AS b),
    votes AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM th CROSS JOIN bits
        GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes
    GROUP BY doc_id
    """,
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprint (SURVEY.md §2.12): per-token md5-derived
    16-bit hash, per-bit majority vote, reassembled into one integer whose
    Hamming distance approximates token-set similarity.

    Engine-portable trick: the token hash is the first 32 bits of md5 —
    identical in Spark and DuckDB — instead of murmur3 F.hash, which is
    Spark-private. All math is integer → exact parity. Linear in tokens;
    the O(N²) step (Hamming neighbor search) happens downstream on the
    16-bit fingerprint space, not on documents.

    Plan shape: the per-bit majority vote is 16 conditional sums in ONE
    groupBy(doc_id) — not a crossJoin with a 16-row bit table, which
    multiplies the exploded token stream 16× and adds a second shuffle
    (measured 3.5 s → 0.6 s at sf0.1). The explicit repartition spreads
    the explode+md5 map work across cores when the input is one small
    file; at 100 TB the scan is already many-partition and the
    bit-vote shuffle carries 16 ints per doc either way.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    tok = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("term"))
    th = tok.select("doc_id", md5_long("term", 8).alias("h"))
    votes = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(16)
        ]
    )
    simhash = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.alias("simhash"))


@register("llm_dedup_minhash", oracle=None)
def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup join (the unblocked scale path): token set →
    HashingTF sparse vector → MinHashLSH → approxSimilarityJoin.

    Approximate by construction (SURVEY.md §7.4) → rows-only, BUT held to
    a recall gate: tests/test_ann_quality.py asserts the candidates
    recover ≥70% of the exact token-jaccard ≥0.8 pairs. That gate caught
    a real representation bug: hashing 3-gram SHINGLES (order-sensitive)
    gave 0.1% recall against token-set ground truth — reordered near-dups
    share almost no shingles. MinHash must hash the same universe the
    target similarity is defined on: token sets for bag-of-words dedup;
    shingles only when ORDER is part of the duplicate definition.

    Candidate pairs come from LSH band-bucket joins — at 100 TB this is
    the only near-dup strategy that avoids an N² comparison; exact
    verification (llm_dedup_ngram_jaccard's measure) then runs on
    candidates alone.

    Memory posture (round 6, measured): approxSimilarityJoin packs each
    side's FULL row into the datasetA/datasetB structs and explodes it
    per hash table, so Catalyst cannot prune columns past the join —
    feeding it rows that still carry `text` and `tokens` shuffles every
    document's payload 2×5 times. The pre-join projection to
    (doc_id, features) halves that shuffle, but at sf0.1 the key still
    needs a 2g driver heap even after the fix (measured, BASELINE.md r6
    row): the sf0.1 fixture is template-dense — the TRUE near-dup graph
    has ~8.5M pairs, so any correct method's candidate volume is
    quadratic in this fixture. Grading scale (sf0.01) runs in ~5 s on a
    vanilla 1g session. At cluster scale the projection is the
    difference between shuffling signatures and shuffling the corpus.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    d = load(spark, sf_dir, "documents")
    pipe_input = d.select("doc_id", "text")
    tokens = Tokenizer(inputCol="text", outputCol="tokens").transform(pipe_input)
    tokens = tokens.where(F.size("tokens") > 0)
    tf = (
        HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 18)
        .transform(tokens)
        .select("doc_id", "features")
    )
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=42)
    model = lsh.fit(tf)
    pairs = model.approxSimilarityJoin(tf, tf, threshold=0.5, distCol="jaccard_dist")
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


@register(
    "llm_similarity_topk",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS qid,
               b.vec_id AS nid,
               ROUND(list_cosine_similarity(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS cosine_sim
        FROM embeddings a
        JOIN embeddings b ON a.vec_id <> b.vec_id
    )
    SELECT qid, nid, cosine_sim,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_sim DESC, nid) AS neighbor_rank
    FROM pairs
    QUALIFY neighbor_rank <= 5
    """,
)
def llm_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors — the exact ANN baseline
    (SURVEY.md §2.12), Arrow/numpy formulation: mapInPandas over the probe
    partitions, each Python worker loads the candidate matrix ONCE from the
    parquet path (side-data pattern — no driver collect, no JVM broadcast)
    and computes a blocked float64 matrix product per Arrow batch. Top-5 is
    selected inside the worker on (rounded sim DESC, nid ASC), so only
    N×5 rows ever leave Python.

    Measured (interleaved A/B, warm, sf0.1): 0.6-1.0 s vs 2.3-2.4 s for
    the pure-JVM HOF crossJoin form (kept as llm_similarity_topk_hof,
    same oracle) — one fused BLAS product beats N² codegen'd
    aggregate(zip_with) expressions. Rounding to 6 decimals absorbs the
    summation-order difference between BLAS and the engines' sequential
    dot loops (the kernel and its rounding caveat:
    functions/embedding_kernels.py).

    O(N²) by design: this is the correctness oracle for the LSH/IVF
    variants. At 100 TB the candidate side becomes a bounded shard per
    worker (IVF cell / LSH bucket); the probe-partitioned mapInPandas
    shape is unchanged — that variant is IMPLEMENTED as
    ``llm_similarity_topk_sharded`` (cogrouped applyInPandas per KMeans
    cell, recall-gated in tests/test_ann_quality.py).
    """
    # explicit projection: without it the scan feeds every column
    # (incl. label) through the Arrow boundary
    e = spread(load(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    return e.mapInPandas(
        exact_topk(path_for(sf_dir, "embeddings"), 5, "neighbor_rank"),
        schema="qid long, nid long, cosine_sim double, neighbor_rank integer",
    )


@register(
    "llm_similarity_topk_hof",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS qid,
               b.vec_id AS nid,
               ROUND(list_cosine_similarity(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS cosine_sim
        FROM embeddings a
        JOIN embeddings b ON a.vec_id <> b.vec_id
    )
    SELECT qid, nid, cosine_sim,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine_sim DESC, nid) AS neighbor_rank
    FROM pairs
    QUALIFY neighbor_rank <= 5
    """,
)
def llm_similarity_topk_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5, pure-JVM declarative form: broadcast
    nested-loop cross join + higher-order-function dot product + window
    rank. Same oracle as llm_similarity_topk — the driver hash-checks that
    the Arrow/numpy and JVM strategies agree exactly (the asof-join
    two-path pattern). Slower than the numpy form (2.4 s vs 0.6 s warm at
    sf0.1) but zero Python dependency in the hot path.
    """
    e = load(spark, sf_dir, "embeddings")
    # Norms are computed ONCE per vector (narrow), not per pair — cuts the
    # per-pair work to a single dot product. The candidate side broadcasts;
    # the probe side is repartitioned so the nested loop parallelizes
    # across cores/executors (the single-file scan would otherwise run the
    # whole N² loop in one task).
    a = spread(
        e.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("emb_a")).withColumn(
            "norm_a", norm(F.col("emb_a"))
        )
    )
    b = e.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("emb_b")).withColumn(
        "norm_b", norm(F.col("emb_b"))
    )
    sim = F.round(dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b")), 6)
    w = Window.partitionBy("qid").orderBy(F.desc("cosine_sim"), F.asc("nid"))
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", sim.alias("cosine_sim"))
        .withColumn("neighbor_rank", F.row_number().over(w))
        .where(F.col("neighbor_rank") <= 5)
    )


@register("llm_similarity_lsh", oracle=None)
def llm_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate neighbor search — the scale path.
    BucketedRandomProjectionLSH hashes vectors into buckets; candidate
    pairs come from bucket joins (linear-ish), not a cross product.
    Approximate → rows-only."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=3, seed=42
    )
    model = lsh.fit(e)
    pairs = model.approxSimilarityJoin(e, e, threshold=8.0, distCol="l2_dist")
    return (
        pairs.where(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.round("l2_dist", 6).alias("l2_dist"),
        )
    )


@register(
    "llm_multimodal_join",
    oracle="""
    SELECT d.doc_id,
           d.lang,
           d.source,
           d.n_chars,
           len(e.embedding) AS emb_dim,
           e.label
    FROM documents d
    JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def llm_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal record assembly: text metadata ⋈ vector modality into one
    row (documents⋈embeddings on doc_id=vec_id). The embedding side is the
    smaller modality table → broadcast."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    return d.join(F.broadcast(e), d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size("embedding").alias("emb_dim"),
        "label",
    )


_STOP_SQL = "(" + ", ".join(f"'{s}'" for s in STOPWORDS) + ")"


@register(
    "llm_text_stats",
    oracle=f"""
    SELECT doc_id,
           lang,
           length(text) AS char_len,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]')) AS bpe_ish_tokens,
           ROUND(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6)
               AS avg_token_span,
           ROUND(CAST(len(list_filter(list_distinct(string_split(text, ' ')),
                                      t -> t IN {_STOP_SQL})) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS stopword_ratio
    FROM documents
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis (SURVEY.md §2.12): char length,
    whitespace token count, BPE-ish regex token count, average token
    span, stopword ratio. All JVM-side string/array built-ins — the
    100-TB quality-scoring hot path has no Python in it."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("char_len"),
        F.size(toks).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]"), 0)).alias("bpe_ish_tokens"),
        F.round(F.length("text").cast("double") / F.size(toks), 6).alias("avg_token_span"),
        F.round(
            F.size(F.array_intersect(toks, stop_arr)).cast("double") / F.size(toks), 6
        ).alias("stopword_ratio"),
    )


@register(
    "llm_lang_report",
    oracle="""
    SELECT lang,
           source,
           COUNT(*) AS doc_cnt,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           COUNT(CASE WHEN n_chars > 200 THEN 1 END) AS long_docs
    FROM documents
    GROUP BY lang, source
    """,
)
def llm_lang_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: per (lang, source) doc counts + length
    distribution + conditional long-doc count."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("doc_cnt"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.count(F.when(F.col("n_chars") > 200, 1)).alias("long_docs"),
    )


# Character-bigram language profiles for the n-gram language-ID heuristic.
# Deterministic and engine-portable: score = raw replaced-length delta per
# signature bigram (integer), argmax with alphabetical tie-break.
LANG_PROFILES = {
    "de": ("er", "en"),
    "en": ("th", "he"),
    "es": ("os", "es"),
    "fr": ("le", "la"),
    "zh": ("ng", "sh"),
}


def _langid_score_sql(pats: tuple[str, str]) -> str:
    return " + ".join(
        f"(length(text) - length(replace(text, '{p}', '')))" for p in pats
    )


_LANGID_CASE_SQL = "CASE " + " ".join(
    "WHEN "
    + " AND ".join(
        f"s_{lang} >= s_{other}" for other in sorted(LANG_PROFILES) if other > lang
    )
    + f" THEN '{lang}'"
    if lang != sorted(LANG_PROFILES)[-1]
    else f"ELSE '{lang}'"
    for lang in sorted(LANG_PROFILES)
) + " END"


@register(
    "llm_langid",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {", ".join(f"{_langid_score_sql(p)} AS s_{l}" for l, p in sorted(LANG_PROFILES.items()))}
        FROM documents
    )
    SELECT doc_id,
           lang AS tagged_lang,
           {_LANGID_CASE_SQL} AS predicted_lang,
           (lang = {_LANGID_CASE_SQL}) AS is_match
    FROM scored
    """,
)
def llm_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification by character-n-gram profile scoring
    (SURVEY.md §2.12 text analysis): each language is a set of signature
    character bigrams; a document's score per language is the total
    matched-bigram mass (length delta after deleting the bigram), and
    the prediction is the argmax with alphabetical tie-break.

    All integer string math on JVM built-ins (length/replace) — no Python,
    no tokenization shuffle; a single narrow projection that scales
    embarrassingly at 100 TB. Real deployments swap the profile table for
    trained ones (e.g. fastText buckets) behind the same shape.
    """
    d = load(spark, sf_dir, "documents")

    def score(pats: tuple[str, str]):
        t = F.col("text")
        return sum(
            (F.length(t) - F.length(F.replace(t, F.lit(p), F.lit("")))) for p in pats
        )

    scored = d.select(
        "doc_id",
        "lang",
        *[score(p).alias(f"s_{l}") for l, p in sorted(LANG_PROFILES.items())],
    )
    langs = sorted(LANG_PROFILES)
    pred = F.lit(langs[-1])
    expr = None
    for lang in langs[:-1]:
        cond = None
        for other in langs:
            if other > lang:
                c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
                cond = c if cond is None else (cond & c)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    pred = expr.otherwise(pred)
    return scored.select(
        "doc_id",
        F.col("lang").alias("tagged_lang"),
        pred.alias("predicted_lang"),
        (F.col("lang") == pred).alias("is_match"),
    )


@register(
    "llm_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, text, string_split(text, ' ') AS ts
        FROM documents
    ), c AS (
        SELECT doc_id, lang,
               least(length(text) / 500.0, 1.0) AS len_score,
               CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS ttr,
               CAST(len(list_filter(list_distinct(ts), x -> x IN {_STOP_SQL}))
                    AS DOUBLE) / len(ts) AS stop_ratio
        FROM t
    )
    SELECT doc_id, lang,
           ROUND(len_score, 6) AS len_score,
           ROUND(ttr, 6) AS type_token_ratio,
           ROUND(0.4 * len_score + 0.4 * ttr + 0.2 * (1.0 - stop_ratio), 6)
               AS quality,
           CASE WHEN ROUND(0.4 * len_score + 0.4 * ttr + 0.2 * (1.0 - stop_ratio), 6) >= 0.75
                THEN 'high'
                WHEN ROUND(0.4 * len_score + 0.4 * ttr + 0.2 * (1.0 - stop_ratio), 6) >= 0.55
                THEN 'medium'
                ELSE 'low' END AS quality_bucket
    FROM c
    """,
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (SURVEY.md §2.12): weighted blend
    of length score (saturating at 500 chars), type-token ratio, and
    stopword penalty, bucketed into high/medium/low on the ROUNDED score
    so the bucket boundary is identical on both engines.

    Pure built-ins, one narrow projection — the canonical pre-training
    corpus filter shape ("keep quality >= threshold") with no shuffle at
    all until the downstream filter writes.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    len_score = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    stop_ratio = F.size(F.array_intersect(toks, stop_arr)).cast("double") / F.size(toks)
    quality = F.round(0.4 * len_score + 0.4 * ttr + 0.2 * (1.0 - stop_ratio), 6)
    return d.select(
        "doc_id",
        "lang",
        F.round(len_score, 6).alias("len_score"),
        F.round(ttr, 6).alias("type_token_ratio"),
        quality.alias("quality"),
        F.when(quality >= 0.75, "high")
        .when(quality >= 0.55, "medium")
        .otherwise("low")
        .alias("quality_bucket"),
    )


@register(
    "llm_fingerprint",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), pt AS (
        SELECT doc_id,
               unnest(ts) AS term,
               generate_subscripts(ts, 1) AS pos
        FROM toks
    )
    SELECT doc_id,
           CAST(SUM((CAST(('0x' || substring(md5(term), 1, 8))::UBIGINT AS BIGINT)
                     % 1000003) * ((pos - 1) % 31 + 1))
                % 1000000007 AS BIGINT) AS fingerprint,
           COUNT(*) AS n_tokens
    FROM pt
    GROUP BY doc_id
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint via positional rolling hash
    (SURVEY.md §2.12): token hash (first 32 bits of md5 — engine-portable,
    unlike Spark-private murmur3) weighted by position-mod-31, summed mod
    1e9+7. Unlike a bag-of-words hash, token REORDERING changes the value.

    All integer math (no float drift); per-token contribution < 2^25 so a
    500-token doc sums < 2^34 — no bigint overflow. One explode + one
    groupBy on doc_id: linear, map-side combinable, 100 TB-safe.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term"))
    h = md5_long("term", 8) % 1000003
    contrib = h * ((F.col("pos") % 31) + 1)
    return tok.groupBy("doc_id").agg(
        (F.sum(contrib) % 1000000007).alias("fingerprint"),
        F.count("*").alias("n_tokens"),
    )


@register(
    "llm_dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS vec_a,
           b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS cosine_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.4
    """,
)
def llm_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup detection (SURVEY.md §2.12): emit vector
    pairs whose cosine similarity clears a threshold — semantic dedup, the
    complement of the lexical MinHash/SimHash variants.

    Brute-force all-pairs is the oracle-checkable CORRECTNESS baseline
    (threshold 0.4 ≈ the top-0.1% of random-pair similarity here); the
    100 TB path replaces pair generation with llm_similarity_lsh /
    llm_similarity_ivf candidate buckets and keeps this same filter.
    """
    e = load(spark, sf_dir, "embeddings")
    a = spread(
        e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
        .withColumn("norm_a", norm(F.col("emb_a")))
    )
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")).withColumn(
        "norm_b", norm(F.col("emb_b"))
    )
    sim = dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(sim >= 0.4)
        .select("vec_a", "vec_b", F.round(sim, 6).alias("cosine_sim"))
    )


@register("llm_similarity_ivf", oracle=None)
def llm_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate neighbor search (SURVEY.md §2.12): a KMeans
    coarse quantizer assigns every vector to a cell; each QUERY probes its
    nprobe=2 nearest cells (centroid table broadcast, top-2 by L2), and
    candidates are ranked by exact cosine with a per-query window top-3.
    nprobe=2 lifts recall@3 from 0.38 to 0.58 on this corpus (random
    vectors — the coarse quantizer's worst case) for ~2× candidate cost.

    The inverted-file structure is what survives 100 TB: the all-pairs
    product shrinks from N² to nprobe·Σ|cell|², and cells are the
    shuffle/join key so each executor searches its own partition of the
    index. KMeans is seeded but not SQL-expressible → rows-only check;
    recall gated in tests/test_ann_quality.py.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    model = KMeans(k=8, seed=42, featuresCol="features", predictionCol="cell").fit(e)
    assigned = model.transform(e).select("vec_id", "embedding", "cell")
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    cdf = F.broadcast(local_rows(spark, centers, "cell_c int, centroid array<double>"))
    # nprobe=2: distance of every query to every centroid (8-row broadcast
    # cross join — free), keep the 2 nearest cells per query
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"), "centroid", lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cell_c"))
    probes = (
        assigned.crossJoin(cdf)
        .select("vec_id", "embedding", "cell_c", d2.alias("d2"))
        .withColumn("pr", F.row_number().over(wp))
        .where(F.col("pr") <= 2)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("emb_a"),
            F.col("cell_c").alias("cell"),
        )
    )
    a = probes.withColumn("norm_a", norm(F.col("emb_a")))
    b = assigned.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("emb_b"), F.col("cell").alias("cell_b")
    ).withColumn("norm_b", norm(F.col("emb_b")))
    sim = F.round(dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b")), 6)
    w = Window.partitionBy("qid").orderBy(F.desc("cosine_sim"), F.asc("nid"))
    return (
        a.join(b, (F.col("cell") == F.col("cell_b")) & (F.col("qid") != F.col("nid")))
        .select("qid", "nid", "cell", sim.alias("cosine_sim"))
        .withColumn("neighbor_rank", F.row_number().over(w))
        .where(F.col("neighbor_rank") <= 3)
    )


@register("llm_similarity_topk_sharded", oracle=None)
def llm_similarity_topk_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-candidate BLAS top-k — the 100-TB materialization of the
    shard promise in ``llm_similarity_topk``'s docstring (VERDICT r1 §7).

    ``llm_similarity_topk`` loads the FULL candidate matrix in every
    Python worker (O(N) memory per worker — fine locally, a scale-killer
    at 100 TB). Here the candidate side is sharded by IVF cell instead:

    1. a seeded KMeans coarse quantizer assigns every vector to a cell
       (identical quantizer/seed to ``llm_similarity_ivf``);
    2. every query probes its nprobe=2 nearest cells (8-row broadcast
       centroid join — free);
    3. ``probes.groupBy(cell).cogroup(candidates.groupBy(cell))
       .applyInPandas`` computes a blocked float64 matrix product PER
       CELL — each worker materializes only |cell| ≈ N/k candidate rows,
       never the corpus, and cells are the shuffle key so the index
       partitions across executors;
    4. a JVM window merges each query's per-cell hits into a global
       top-3 on (sim DESC, nid ASC).

    Same candidate set as ``llm_similarity_ivf`` (recall@3 ≈ 0.58 on this
    random-vector worst case, gated in tests/test_ann_quality.py); the
    BLAS-per-cell kernel replaces the per-pair HOF dot product. KMeans →
    not SQL-expressible → rows-only driver check.
    """
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    model = KMeans(k=8, seed=42, featuresCol="features", predictionCol="cell").fit(e)
    assigned = model.transform(e).select("vec_id", "embedding", "cell")
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    cdf = F.broadcast(local_rows(spark, centers, "cell_c int, centroid array<double>"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"), "centroid", lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cell_c"))
    probes = (
        assigned.crossJoin(cdf)
        .select("vec_id", "embedding", "cell_c", d2.alias("d2"))
        .withColumn("pr", F.row_number().over(wp))
        .where(F.col("pr") <= 2)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("emb_a"),
            F.col("cell_c").alias("cell"),
        )
    )

    def cell_topk(probe_pdf: pd.DataFrame, cand_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"qid": [], "nid": [], "cosine_sim": []}).astype(
            {"qid": "int64", "nid": "int64", "cosine_sim": "float64"}
        )
        if probe_pdf.empty or cand_pdf.empty:
            return empty
        # per-cell top-3; merged below
        return cosine_topk(
            probe_pdf["qid"].to_numpy(),
            as_matrix(probe_pdf["emb_a"]),
            cand_pdf["vec_id"].to_numpy(),
            as_matrix(cand_pdf["embedding"]),
            3,
        ).drop(columns="rank")

    cell_hits = (
        probes.groupBy("cell")
        .cogroup(assigned.groupBy("cell"))
        .applyInPandas(cell_topk, schema="qid long, nid long, cosine_sim double")
    )
    # a nid lives in exactly one cell, so (qid, nid) is already unique
    # across the nprobe cells — the merge is a pure window top-3.
    w = Window.partitionBy("qid").orderBy(F.desc("cosine_sim"), F.asc("nid"))
    return (
        cell_hits.withColumn("neighbor_rank", F.row_number().over(w))
        .where(F.col("neighbor_rank") <= 3)
    )


@register(
    "llm_tfidf",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ), n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * (ln((1.0 + n.n) / (1.0 + df.df)) + 1) AS tfidf_raw
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id,
           term AS top_term,
           ROUND(tfidf_raw, 6) AS tfidf
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf_raw DESC, term) = 1
    """,
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with the smoothed-idf formula, computed with pure DataFrame
    ops (explode → two groupBys → join) — fully oracle-checkable, unlike
    the MLlib HashingTF/IDF pipeline whose hashed features can't be.
    Emits each document's top term (tie-break: term asc).

    Both engines compute tf·(ln((1+N)/(1+df))+1) with the same scalar op
    sequence → bit-identical doubles; ranking uses the raw value.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # tf is already distinct on (doc_id, term), so document frequency is a
    # plain count over it. r12 optimization (guide §2.4): df rides a
    # count() OVER (PARTITION BY term) window instead of the former
    # groupBy(term) + join-back — the join's two branches each recomputed
    # the explode→tf pipeline (plan showed the documents scan 3× and the
    # token aggregate TWICE, no ReuseExchange) and broadcast the term
    # vocabulary, which at 100 TB is unbounded. Now: ONE tf pipeline, one
    # (term)-hash exchange for the window, no vocabulary broadcast
    # (0.92 → 0.85 s med at sf0.1; hash-identical — the window count
    # equals the joined df for every (doc_id, term)).
    n = d.agg(F.count("*").alias("n"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * (F.log((1.0 + F.col("n")) / (1.0 + F.col("df"))) + 1)
            ).alias("tfidf_raw"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_raw"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"), F.round("tfidf_raw", 6).alias("tfidf"))
    )


@register("llm_sample_stratified", oracle=None)
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus subsampling (training-data pipeline staple):
    per-language sampling fractions rebalance the corpus — downsample the
    dominant language, keep the rest — via ``sampleBy``.

    Seeded Bernoulli sampling is deterministic for a fixed partitioning
    but not SQL-expressible → rows-only check; tests assert determinism
    and per-stratum bounds. At 100 TB this is a narrow scan-side filter:
    no shuffle, each task coin-flips its own rows.
    """
    d = load(spark, sf_dir, "documents")
    fractions = {"en": 0.3, "de": 0.8, "fr": 0.8, "es": 0.8, "zh": 0.8}
    return d.sampleBy("lang", fractions=fractions, seed=42).select(
        "doc_id", "lang", "source"
    )


@register(
    "llm_dedup_levenshtein",
    oracle="""
    WITH heads AS (
        SELECT doc_id, lang, substring(text, 1, 40) AS head FROM documents
    )
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           levenshtein(a.head, b.head) AS edit_dist
    FROM heads a
    JOIN heads b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 12
    """,
)
def llm_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification (SURVEY.md §2.12): Levenshtein
    over 40-char document prefixes, pairs blocked by lang, distance ≤ 12.

    The prefix cap bounds the DP cost per pair (40×40 cells) — full-text
    edit distance over a cross product is quadratic twice over and never
    the 100 TB plan; the real pipeline uses this as the precise VERIFIER
    behind MinHash/SimHash candidate generation, where pair counts are
    already linear-ish. Integer distance → exact parity.
    """
    d = load(spark, sf_dir, "documents")
    heads = d.select("doc_id", "lang", F.substring("text", 1, 40).alias("head"))
    a = heads.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"), F.col("head").alias("head_a")
    )
    b = heads.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"), F.col("head").alias("head_b")
    )
    dist = F.levenshtein("head_a", "head_b")
    return (
        a.join(b, (F.col("lang_a") == F.col("lang_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", dist.alias("edit_dist"))
        .where(F.col("edit_dist") <= 12)
    )


@register(
    "llm_ngram_profile",
    oracle="""
    WITH grams AS (
        SELECT lang, substring(text, pos, 2) AS bigram
        FROM (SELECT lang, text, unnest(range(1, length(text))) AS pos
              FROM documents)
        WHERE substring(text, pos, 2) NOT LIKE '% %'
    ), counted AS (
        SELECT lang, bigram, COUNT(*) AS freq FROM grams GROUP BY lang, bigram
    )
    SELECT lang, bigram, freq,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, bigram) AS rank
    FROM counted
    QUALIFY rank <= 5
    """,
)
def llm_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram corpus profile: the top-5 bigrams per language —
    the statistic a real n-gram language-ID model trains on (llm_langid
    consumes exactly this kind of table as its static profile).

    Position explode is linear in corpus characters; the groupBy key is
    (lang, bigram) — high cardinality but bounded by alphabet², and
    map-side partial aggregation collapses each task's counts before the
    shuffle. Space-containing bigrams are dropped (word boundaries say
    nothing about the language). The explicit repartition spreads the
    position-explode across cores when the input is one small file (a
    100-TB scan is already many-partition).
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    grams = (
        d.select(
            "lang",
            F.explode(F.sequence(F.lit(1), F.length("text") - 1)).alias("pos"),
            "text",
        )
        .select("lang", F.expr("substring(text, pos, 2)").alias("bigram"))
        .where(~F.col("bigram").contains(" "))
    )
    counted = grams.groupBy("lang", "bigram").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("bigram"))
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
    )


@register(
    "llm_pipeline_end_to_end",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               0.4 * least(length(text) / 500.0, 1.0)
               + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                        / len(string_split(text, ' ')))
               + 0.2 * (1.0 - CAST(len(list_filter(list_distinct(string_split(text, ' ')),
                                                   x -> x IN ('data', 'row', 'query', 'the', 'of')))
                              AS DOUBLE) / len(string_split(text, ' '))) AS q,
               md5(lower(trim(text))) AS h
        FROM documents
    ), kept AS (
        SELECT s.doc_id, s.lang FROM scored s
        JOIN (SELECT h, MIN(doc_id) AS keeper FROM scored GROUP BY h) k
          ON s.h = k.h AND s.doc_id = k.keeper
        WHERE ROUND(s.q, 6) >= 0.55
    )
    SELECT k.lang,
           COUNT(*) AS kept_docs,
           COUNT(e.vec_id) AS with_embedding
    FROM kept k LEFT JOIN embeddings e ON k.doc_id = e.vec_id
    GROUP BY k.lang
    """,
)
def llm_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operators composed as ONE training-data pipeline: quality
    scoring (llm_quality_score's formula) → exact-dup removal keeping the
    lowest doc_id (llm_dedup_exact_hash's survivorship) → embedding
    attachment (llm_multimodal_join's key) → per-language corpus report.
    Every stage is individually oracle-checked elsewhere; this key proves
    the COMPOSITION is too.

    Shape at scale: one narrow scoring pass, one hash-key shuffle for
    survivorship, one broadcast join — the whole corpus is touched once.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    quality = F.round(
        0.4 * F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
        + 0.4 * (F.size(F.array_distinct(toks)).cast("double") / F.size(toks))
        + 0.2 * (1.0 - F.size(F.array_intersect(toks, stop_arr)).cast("double") / F.size(toks)),
        6,
    )
    scored = d.select(
        "doc_id", "lang", quality.alias("q"), F.md5(F.lower(F.trim("text"))).alias("h")
    )
    keepers = scored.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    kept = (
        scored.join(keepers, (scored.h == keepers.h) & (scored.doc_id == keepers.keeper))
        .where(F.col("q") >= 0.55)
        .select("doc_id", "lang")
    )
    e = load(spark, sf_dir, "embeddings")
    return (
        kept.join(F.broadcast(e), kept.doc_id == e.vec_id, "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("kept_docs"),
            F.count("vec_id").alias("with_embedding"),
        )
    )


@register(
    "llm_pii_scrub",
    oracle=r"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com from 10.0.'
                    || CAST(doc_id % 200 AS VARCHAR) || '.7 ref 90000'
                    || CAST(doc_id AS VARCHAR) AS t
        FROM documents
    ), scrubbed AS (
        SELECT doc_id,
               len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        FROM aug
    ), s2 AS (
        SELECT doc_id, n_emails,
               len(regexp_extract_all(t1, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS n_ips,
               regexp_replace(t1, '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g') AS t2
        FROM scrubbed
    ), s3 AS (
        SELECT doc_id, n_emails, n_ips,
               len(regexp_extract_all(t2, '\b\d{5,}\b')) AS n_longnums,
               regexp_replace(t2, '\b\d{5,}\b', '<NUM>', 'g') AS t3
        FROM s2
    )
    SELECT doc_id, n_emails, n_ips, n_longnums,
           md5(t3) AS scrubbed_md5,
           length(t3) AS scrubbed_len
    FROM s3
    """,
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (training-data pipeline mandate): count and
    replace emails, IPv4 addresses, and long digit runs with typed
    placeholder tokens, in that order (emails first — their local parts
    contain digits that must not be double-counted as numbers).

    The synthetic corpus carries no PII, so BOTH sides append the same
    deterministic doc_id-derived contact line before scrubbing (in-query
    fixture augmentation, same pattern as source_csv_malformed's staged
    fixture) — every regex demonstrably fires on every row and the
    redacted-text md5 proves byte-identical replacement semantics between
    Spark's Java regex and DuckDB's RE2 for this pattern class.

    Scale: pure per-row JVM string ops (regexp_count/regexp_replace are
    codegen'd) — no shuffle, no UDF; at 100 TB this runs scan-speed and
    pushes nothing to Python.
    """
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ipv4 = r"\b\d{1,3}(\.\d{1,3}){3}\b"
    longnum = r"\b\d{5,}\b"
    d = load(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7 ref 90000"),
            F.col("doc_id").cast("string"),
        ).alias("t"),
    )
    s1 = aug.select(
        "doc_id",
        F.regexp_count("t", F.lit(email)).alias("n_emails"),
        F.regexp_replace("t", email, "<EMAIL>").alias("t1"),
    )
    s2 = s1.select(
        "doc_id",
        "n_emails",
        F.regexp_count("t1", F.lit(ipv4)).alias("n_ips"),
        F.regexp_replace("t1", ipv4, "<IP>").alias("t2"),
    )
    s3 = s2.select(
        "doc_id",
        "n_emails",
        "n_ips",
        F.regexp_count("t2", F.lit(longnum)).alias("n_longnums"),
        F.regexp_replace("t2", longnum, "<NUM>").alias("t3"),
    )
    return s3.select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_longnums",
        F.md5("t3").alias("scrubbed_md5"),
        F.length("t3").alias("scrubbed_len"),
    )


@register(
    "llm_ngram_novelty",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), grams AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
        FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3
    ), dfreq AS (
        SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram
    )
    SELECT doc_id,
           COUNT(*) AS n_distinct_grams,
           ROUND(CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty_ratio
    FROM grams JOIN dfreq USING (gram)
    GROUP BY doc_id
    """,
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct word
    3-grams that appear in NO other document — the corpus-redundancy
    signal dedup pipelines use to rank which near-dups to keep (high
    novelty = more unique content). Complements llm_repetition_ratio
    (within-doc) and llm_ngram_profile (corpus frequency table).

    Shape: split → 3-gram transform (one array expr, no Python) →
    explode+distinct (one shuffle on (doc_id, gram)) → gram doc-frequency
    (window over gram — second shuffle) → per-doc mean. Both shuffles key
    on the gram hash, so skew tracks true gram popularity; at 100 TB the
    df table is the same partial-agg shape as word-count.
    """
    # repartition before the explode: the single-file local scan would
    # otherwise run the whole split+transform+explode on ONE task (the r1
    # single-file trap, BASELINE.md continuation-2; measured 1.4→0.87 s
    # warm at sf0.1). No-op by count on a many-partition 100-TB scan.
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    grams = word_ngrams(d, 3, "doc_id").distinct()
    dfreq = grams.groupBy("ngram").agg(F.count("*").alias("df"))
    return (
        grams.join(dfreq, "ngram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_grams"),
            # exact-int sum / count, divided once: identical doubles on both
            # engines by construction, no AVG-implementation dependence
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("double")
                / F.count("*"),
                6,
            ).alias("novelty_ratio"),
        )
    )


@register(
    "llm_sample_hash_stratified",
    oracle="""
    WITH rates AS (
        SELECT * FROM (VALUES ('en', 30), ('de', 80), ('fr', 80),
                              ('es', 80), ('zh', 80)) AS t(lang, pct)
    )
    SELECT doc_id, d.lang, source
    FROM documents d JOIN rates USING (lang)
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || d.lang), 1, 8))::UBIGINT
               AS BIGINT) % 100 < pct
    """,
)
def llm_sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-stratified sampling — the oracle-checkable twin
    of llm_sample_stratified (seeded sampleBy). Membership is a PURE
    FUNCTION of (doc_id, lang): first 32 md5 bits mod 100 against a
    per-language rate table, so any worker — or any engine — re-derives
    the same sample with no seed/partitioning state. That re-derivability
    is why production corpus pipelines prefer hash sampling over seeded
    Bernoulli at 100 TB: the sample survives repartitioning, engine
    upgrades, and incremental re-runs unchanged.

    Plan: broadcast 5-row rate table + scan-side filter; no shuffle.
    """
    d = load(spark, sf_dir, "documents")
    rates = F.broadcast(
        local_rows(
            spark,
            [("en", 30), ("de", 80), ("fr", 80), ("es", 80), ("zh", 80)],
            "lang string, pct int",
        )
    )
    bucket = md5_long(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("lang")), 8) % 100
    return (
        d.join(rates, "lang")
        .where(bucket < F.col("pct"))
        .select("doc_id", "lang", "source")
    )


@register(
    "llm_perplexity_proxy",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
    ), total AS (
        SELECT SUM(cnt) AS n FROM tf
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           ROUND(SUM(CAST(round(-ln(CAST(cnt AS DOUBLE) / n) * 1000000)
                          AS BIGINT))
                 / (COUNT(*) * 1000000.0), 6) AS cross_entropy
    FROM tok JOIN tf USING (term) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def llm_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy per document — the cheap perplexity proxy
    corpus pipelines use for quality filtering (low = stereotyped text,
    high = rare-token soup; both tails get pruned). Corpus unigram
    probabilities come from the corpus itself, so the op is two shared
    shuffles: token explode → term counts (map-side partial agg), then
    token⋈tf (term-keyed) → per-doc mean of -ln p.

    Parity note (round-3, ADVICE r2): the per-doc mean uses the integer
    micro-unit discipline from llm_dataset_card — each token's -ln(p) is
    rounded to int64 micro-nats, summed exactly (order-insensitive), and
    divided once — so the result is a ratio of exact integers on both
    engines, not an order-sensitive double sum that ROUND(,6) may or may
    not absorb at a rounding boundary. The corpus total rides along as a
    broadcast 1-row cross join on both engines.
    """
    # repartition: spread the split+explode map work across cores on the
    # single-file local input (no-op by count at 100 TB) — same trap as
    # llm_ngram_novelty.
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    total = tf.agg(F.sum("cnt").alias("n"))
    return (
        tok.join(tf, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum(
                    F.round(
                        -F.log(F.col("cnt").cast("double") / F.col("n")) * 1000000
                    ).cast("long")
                )
                / (F.count("*") * 1000000.0),
                6,
            ).alias("cross_entropy"),
        )
    )


@register(
    "llm_dedup_pipeline_exact",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT doc_id, t.term, t.pos FROM documents,
          LATERAL (SELECT unnest(string_split(text, ' ')) AS term,
                          generate_subscripts(string_split(text, ' '), 1) AS pos) t
    ), sh AS (
        SELECT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS shingle
        FROM tok a
        JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ), sig AS (
        SELECT doc_id,
           MIN(CAST(('0x' || substr(md5('0_' || shingle), 1, 15)) AS BIGINT)) AS s0,
           MIN(CAST(('0x' || substr(md5('0_' || shingle), 16, 15)) AS BIGINT)) AS s1,
           MIN(CAST(('0x' || substr(md5('1_' || shingle), 1, 15)) AS BIGINT)) AS s2,
           MIN(CAST(('0x' || substr(md5('1_' || shingle), 16, 15)) AS BIGINT)) AS s3
        FROM sh GROUP BY doc_id
    ), cand AS (
        SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b ON a.s0 = b.s0 AND a.s1 = b.s1 AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b ON a.s2 = b.s2 AND a.s3 = b.s3 AND a.doc_id < b.doc_id
        ) p
    ), tsets AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents
    ), verified AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN tsets a ON a.doc_id = c.doc_a
        JOIN tsets b ON b.doc_id = c.doc_b
        WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
              / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.5
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM verified
        UNION ALL
        SELECT doc_b, doc_a FROM verified
    ), reach AS (
        SELECT doc_id AS id, doc_id AS root FROM documents
        UNION
        SELECT e.dst AS id, r.root FROM reach r JOIN edges e ON e.src = r.id
    ), clusters AS (
        SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id
    )
    SELECT c.doc_id, c.cluster_id, s.cluster_size,
           c.doc_id = c.cluster_id AS is_keeper
    FROM clusters c
    JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
          FROM clusters GROUP BY cluster_id) s USING (cluster_id)
    WHERE s.cluster_size >= 2
    """,
)
def llm_dedup_pipeline_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END near-dup pipeline as it actually runs at 100 TB,
    every stage exact and the whole composition hash-checked:

    1. CANDIDATES from banded MinHash LSH (llm_dedup_minhash_banded's
       deterministic md5 sketch — bucket equi-joins, no all-pairs);
    2. VERIFY each candidate with exact token-set Jaccard ≥ 0.5 — LSH
       precision is probabilistic, so production pipelines always re-check
       candidates before acting on them;
    3. CLUSTER verified pairs with min-label connected components
       (transitive duplicates collapse — pairwise dedup over-keeps);
    4. SURVIVORS: keeper = min doc_id per cluster; output every doc in a
       size-≥2 cluster with its cluster id/size/keeper flag.

    Scale composition: stage 1 shuffles signatures (4 longs/doc), stage 2
    joins ONLY candidate pairs back to token sets (candidate-sized, not
    corpus-sized), stage 3 iterates on the verified-pair graph (tiny by
    construction), stage 4 is one groupBy. The quadratic term never
    appears — exactly why this pipeline replaces blocked all-pairs
    Jaccard at scale.
    """
    from classification_problem_with_pyspark_spark.operators.extended2 import (
        llm_dedup_minhash_banded,
    )

    cand = llm_dedup_minhash_banded(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    tsets = d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("ts"))
    a = tsets.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    b = tsets.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size("ts_a") + F.size("ts_b") - inter
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .where(inter.cast("double") / union >= 0.5)
        .select("doc_a", "doc_b")
    )
    edges = verified.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    ids = d.select(F.col("doc_id").alias("id"))
    # 15 rounds: the component diameter bound; near-dup clusters are tiny
    labels = min_label_components(edges, ids, 15, "llm_dedup_pipeline_exact")
    sizes = labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count("*").alias("cluster_size")
    )
    return (
        labels.join(sizes, labels.label == sizes.cluster_id)
        .where(F.col("cluster_size") >= 2)
        .select(
            F.col("id").alias("doc_id"),
            "cluster_id",
            "cluster_size",
            (F.col("id") == F.col("cluster_id")).alias("is_keeper"),
        )
    )


@register(
    "llm_dedup_survivor_quality",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ts
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM toks a
        JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
              / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.8
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ), reach AS (
        SELECT doc_id AS id, doc_id AS root FROM documents
        UNION
        SELECT e.dst AS id, r.root FROM reach r JOIN edges e ON e.src = r.id
    ), clusters AS (
        SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id
    ), sized AS (
        SELECT c.doc_id, c.cluster_id, s.cluster_size
        FROM clusters c
        JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
              FROM clusters GROUP BY cluster_id) s USING (cluster_id)
        WHERE s.cluster_size >= 2
    ), q AS (
        SELECT doc_id,
               ROUND(0.4 * least(length(text) / 500.0, 1.0)
                   + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                            / len(string_split(text, ' ')))
                   + 0.2 * (1.0 - CAST(len(list_filter(
                         list_distinct(string_split(text, ' ')),
                         x -> x IN {_STOP_SQL})) AS DOUBLE)
                            / len(string_split(text, ' '))), 6) AS quality
        FROM documents
    ), ranked AS (
        SELECT sized.*, q.quality,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY q.quality DESC, sized.doc_id) AS rk
        FROM sized JOIN q USING (doc_id)
    )
    SELECT cluster_id, cluster_size,
           MAX(CASE WHEN rk = 1 THEN doc_id END) AS keeper_doc_id,
           MAX(CASE WHEN rk = 1 THEN quality END) AS keeper_quality,
           MAX(CASE WHEN rk = 1 THEN doc_id END) <> cluster_id AS keeper_upgraded
    FROM ranked
    GROUP BY cluster_id, cluster_size
    """,
)
def llm_dedup_survivor_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection — the refinement real corpus
    dedup applies after clustering: instead of keeping the arbitrary
    min-id document, each near-dup cluster keeps its HIGHEST-QUALITY
    member (composite score from llm_quality_score; doc_id breaks ties).
    ``keeper_upgraded`` marks clusters where quality-aware selection
    changed the outcome vs the id-based default — the measurable value
    of the refinement.

    Composition: llm_dedup_cluster_cc's components (Jaccard ≥ 0.8 graph,
    min-label CC) joined to the quality projection, then one per-cluster
    rank. Everything rides the cluster-sized tables; the corpus-sized
    work (pair gen, quality scan) is unchanged from its parents.
    """
    from classification_problem_with_pyspark_spark.operators.extended import (
        llm_dedup_cluster_cc,
    )

    clusters = llm_dedup_cluster_cc(spark, sf_dir).where(F.col("cluster_size") >= 2)
    quality = llm_quality_score(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    ranked = (
        clusters.join(quality, "doc_id")
        .withColumn("rk", F.row_number().over(w))
    )
    return ranked.groupBy("cluster_id", "cluster_size").agg(
        F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("keeper_doc_id"),
        F.max(F.when(F.col("rk") == 1, F.col("quality"))).alias("keeper_quality"),
        (
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))) != F.col("cluster_id")
        ).alias("keeper_upgraded"),
    )


@register(
    "llm_hard_negative_mining",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               a.label AS label_a, b.label AS label_b,
               ROUND(list_cosine_similarity(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), pos AS (
        SELECT qid, nid AS pos_id, sim AS pos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
        FROM pairs WHERE label_a = label_b
    ), neg AS (
        SELECT qid, nid AS neg_id, sim AS neg_sim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
        FROM pairs WHERE label_a <> label_b
    )
    SELECT p.qid, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
           ROUND(p.pos_sim - n.neg_sim, 6) AS margin
    FROM pos p JOIN neg n USING (qid)
    WHERE p.rn = 1 AND n.rn = 1
    """,
)
def llm_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the most-similar SAME-label neighbor (the positive) and the
    most-similar DIFFERENT-label neighbor (the hard negative — the
    near-miss that makes the training signal), plus the pos−neg margin
    (small/negative margin = the hard cases a curriculum upweights).

    Exact N² form — the correctness baseline, same posture as
    llm_similarity_topk: at 100 TB production mines negatives from an ANN
    shortlist (llm_similarity_ivf / llm_similarity_topk_sharded generate
    the candidates; this ranking then runs per shortlist, not per
    corpus). One broadcast cross join feeds BOTH selections; the two
    windows share the qid partitioning so Spark reuses the exchange.
    """
    e = load(spark, sf_dir, "embeddings")
    a = spread(
        e.select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("emb_a"),
            F.col("label").alias("label_a"),
        ).withColumn("norm_a", norm(F.col("emb_a")))
    )
    b = e.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("emb_b"),
        F.col("label").alias("label_b"),
    ).withColumn("norm_b", norm(F.col("emb_b")))
    sim = F.round(
        dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b")), 6
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", "label_a", "label_b", sim.alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    pos = (
        pairs.where(F.col("label_a") == F.col("label_b"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("qid", F.col("nid").alias("pos_id"), F.col("sim").alias("pos_sim"))
    )
    neg = (
        pairs.where(F.col("label_a") != F.col("label_b"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("qid", F.col("nid").alias("neg_id"), F.col("sim").alias("neg_sim"))
    )
    return pos.join(neg, "qid").select(
        "qid",
        "pos_id",
        "pos_sim",
        "neg_id",
        "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
    )


@register(
    "llm_dataset_card",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, lang, source, n_chars,
               md5(lower(trim(text))) AS h,
               ROUND(0.4 * least(length(text) / 500.0, 1.0)
                   + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                            / len(string_split(text, ' ')))
                   + 0.2 * (1.0 - CAST(len(list_filter(
                         list_distinct(string_split(text, ' ')),
                         x -> x IN {_STOP_SQL})) AS DOUBLE)
                            / len(string_split(text, ' '))), 6) AS quality
        FROM documents
    ), dup AS (
        SELECT h, COUNT(*) AS cnt FROM q GROUP BY h
    )
    SELECT q.source, q.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(q.n_chars) AS BIGINT) AS total_chars,
           ROUND(SUM(CAST(round(q.quality * 1000000) AS BIGINT))
                 / (COUNT(*) * 1000000.0), 6) AS mean_quality,
           CAST(SUM(CASE WHEN q.quality >= 0.75 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality,
           CAST(SUM(CASE WHEN dup.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup_members
    FROM q JOIN dup USING (h)
    GROUP BY q.source, q.lang
    """,
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card statistics — the per-(source, lang) profile table a
    corpus release ships: document and character counts, mean composite
    quality, high-quality share, and exact-duplicate membership (docs
    whose normalized text hash collides corpus-wide). One pass computes
    hash + quality per doc; the duplicate counts join back on the 16-byte
    digest (never the text — llm_dedup_exact_hash's shuffle discipline).

    Parity note: the mean quality is computed over INTEGER micro-units
    (quality is exact at 6 decimals by construction, so ×1e6 is an exact
    int64) — a float AVG landed exactly on a .xxxxxx5 rounding boundary
    at the gate SF and flipped the 6th decimal between engines; integer
    sums make the division operands bit-identical on both sides.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    len_score = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    stop_ratio = F.size(F.array_intersect(toks, stop_arr)).cast("double") / F.size(toks)
    quality = F.round(0.4 * len_score + 0.4 * ttr + 0.2 * (1.0 - stop_ratio), 6)
    q = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5(F.lower(F.trim("text"))).alias("h"),
        quality.alias("quality"),
    )
    dup = q.groupBy("h").agg(F.count("*").alias("cnt"))
    return (
        q.join(dup, "h")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(
                F.sum(F.round(F.col("quality") * 1000000).cast("long"))
                / (F.count("*") * 1000000.0),
                6,
            ).alias("mean_quality"),
            F.sum(F.when(F.col("quality") >= 0.75, 1).otherwise(0)).alias(
                "n_high_quality"
            ),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias(
                "n_exact_dup_members"
            ),
        )
    )


@register(
    "llm_span_corruption",
    oracle="""
    WITH docs AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ), spans AS (
        SELECT doc_id, n_tokens,
               greatest(1, CAST(floor(n_tokens * 0.15 / 3) AS BIGINT)) AS n_spans
        FROM docs
    ), starts AS (
        SELECT s.doc_id, s.n_tokens, s.n_spans,
               CAST(('0x' || substring(md5('span_' || CAST(s.doc_id AS VARCHAR)
                     || '_' || CAST(t.k AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)
                   % greatest(1, s.n_tokens - 2) AS start_pos
        FROM spans s, UNNEST(generate_series(0, s.n_spans - 1)) AS t(k)
    ), masked AS (
        SELECT DISTINCT doc_id, n_tokens, n_spans, start_pos + off AS pos
        FROM starts, UNNEST(generate_series(0, 2)) AS o(off)
    )
    SELECT doc_id,
           MAX(n_tokens) AS n_tokens,
           MAX(n_spans) AS n_spans,
           COUNT(*) AS masked_tokens,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(n_tokens), 6) AS masked_ratio
    FROM masked
    GROUP BY doc_id
    """,
)
def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption mask generation (the T5/UL2 denoising-objective
    prep step): each document gets ⌈15%/3⌉ deterministic 3-token spans
    whose start positions derive from md5(doc_id, span_index) — no RNG
    state, so any worker (or the oracle) re-derives the identical mask,
    and a re-run of the pipeline corrupts identically (the property that
    makes checkpoint-resumed data prep reproducible). Overlapping spans
    merge via position-set distinct; output is the per-doc mask profile
    (span count, masked tokens, masked ratio ≈ 0.15 minus overlap loss).

    Shape: all array math until the position explode; one (doc, pos)
    distinct shuffle and a per-doc rollup — linear in masked tokens,
    which are 15% of the corpus.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    docs = d.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    spans = docs.select(
        "doc_id",
        "n_tokens",
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(F.col("n_tokens") * 0.15 / 3).cast("long"),
        ).alias("n_spans"),
    )
    starts = spans.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_spans") - 1)).alias("k"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_spans",
        (
            md5_long(
                F.concat(
                    F.lit("span_"),
                    F.col("doc_id").cast("string"),
                    F.lit("_"),
                    F.col("k").cast("string"),
                ),
                8,
            )
            # greatest(1, ·): docs with <= 2 tokens would modulo by zero or
            # a negative — an ANSI-mode abort of the whole key (ADVICE r2).
            % F.greatest(F.lit(1), F.col("n_tokens") - 2)
        ).alias("start_pos"),
    )
    masked = (
        starts.select(
            "doc_id",
            "n_tokens",
            "n_spans",
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("off"),
            "start_pos",
        )
        .select(
            "doc_id", "n_tokens", "n_spans", (F.col("start_pos") + F.col("off")).alias("pos")
        )
        .distinct()
    )
    return masked.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.max("n_spans").alias("n_spans"),
        F.count("*").alias("masked_tokens"),
        F.round(
            F.count("*").cast("double") / F.max("n_tokens"), 6
        ).alias("masked_ratio"),
    )


@register(
    "llm_prompt_render",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, lang, text,
               CAST(('0x' || substring(md5('tpl_' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                    AS BIGINT) % 3 AS template_id
        FROM documents
    ), rendered AS (
        SELECT doc_id, lang, template_id,
               CASE template_id
                 WHEN 0 THEN 'Summarize the following text:\n' || text || '\nSummary:'
                 WHEN 1 THEN 'Translate to ' || upper(lang) || ':\n' || text
                 ELSE 'Continue the passage:\n' || text
               END AS prompt
        FROM assigned
    )
    SELECT template_id,
           COUNT(*) AS n_prompts,
           CAST(SUM(length(prompt)) AS BIGINT) AS total_chars,
           MIN(md5(prompt)) AS min_prompt_md5
    FROM rendered
    GROUP BY template_id
    """,
)
def llm_prompt_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning prompt synthesis: every document is rendered
    into one of three task templates (summarize / translate / continue),
    with the template chosen by md5(doc_id) — the deterministic
    round-robin that keeps the task mixture stable across re-runs and
    lets any engine re-derive which doc got which template. Output is the
    per-template mixture profile with a rendered-text fingerprint, so the
    hash check pins the exact rendered bytes (newlines, casing, template
    order) — the part of SFT data prep that silently drifts otherwise.

    Shape: pure scan-side string concat + one tiny groupBy; at 100 TB the
    rendered prompts stream straight to the packed-sequence writer
    (llm_doc_packing) without materializing.
    """
    d = load(spark, sf_dir, "documents")
    assigned = d.select(
        "doc_id",
        "lang",
        "text",
        (
            md5_long(F.concat(F.lit("tpl_"), F.col("doc_id").cast("string")), 8)
            % 3
        ).alias("template_id"),
    )
    prompt = (
        F.when(
            F.col("template_id") == 0,
            F.concat(
                F.lit("Summarize the following text:\n"),
                F.col("text"),
                F.lit("\nSummary:"),
            ),
        )
        .when(
            F.col("template_id") == 1,
            F.concat(
                F.lit("Translate to "),
                F.upper("lang"),
                F.lit(":\n"),
                F.col("text"),
            ),
        )
        .otherwise(F.concat(F.lit("Continue the passage:\n"), F.col("text")))
    )
    return (
        assigned.select("template_id", prompt.alias("prompt"))
        .groupBy("template_id")
        .agg(
            F.count("*").alias("n_prompts"),
            F.sum(F.length("prompt")).alias("total_chars"),
            F.min(F.md5("prompt")).alias("min_prompt_md5"),
        )
    )


@register(
    "llm_split_leakage_audit",
    oracle="""
    WITH assigned AS (
        SELECT doc_id,
               md5(lower(trim(text))) AS h,
               CASE WHEN CAST(('0x' || substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 10 < 8 THEN 'train'
                    WHEN CAST(('0x' || substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 10 = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ), pairs AS (
        SELECT a.split AS split_a, b.split AS split_b
        FROM assigned a
        JOIN assigned b ON a.h = b.h AND a.doc_id < b.doc_id
        WHERE a.split <> b.split
    )
    SELECT least(split_a, split_b) AS split_lo,
           greatest(split_a, split_b) AS split_hi,
           COUNT(*) AS n_leaked_pairs
    FROM pairs
    GROUP BY 1, 2
    """,
)
def llm_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit — the eval-hygiene check that must run
    after ANY split: documents whose normalized text collides across
    train/val/test boundaries leak evaluation answers into training.
    Composes the deterministic hash split (llm_split_hash's assignment,
    re-derived bit-identically) with exact-dup detection
    (llm_dedup_exact_hash's digest), counting leaked pairs per unordered
    split-boundary pair. Empty output = clean split; any row is a
    release blocker. (Near-dup leakage uses the same shape with banded
    MinHash candidates — llm_decontaminate's machinery.)

    Scale: the self-join keys on the 16-byte digest, so only true
    collisions ever pair — the join output is duplicate-sized, not
    corpus-sized; split assignment is a pure key function, no extra scan.
    """
    d = load(spark, sf_dir, "documents")
    bucket = md5_long(F.concat(F.lit("split_"), F.col("doc_id").cast("string"))) % 10
    assigned = d.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("h"),
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test").alias("split"),
    )
    a = assigned.select(
        F.col("doc_id").alias("id_a"), F.col("h").alias("h_a"), F.col("split").alias("split_a")
    )
    b = assigned.select(
        F.col("doc_id").alias("id_b"), F.col("h").alias("h_b"), F.col("split").alias("split_b")
    )
    pairs = a.join(
        b, (F.col("h_a") == F.col("h_b")) & (F.col("id_a") < F.col("id_b"))
    ).where(F.col("split_a") != F.col("split_b"))
    return pairs.groupBy(
        F.least("split_a", "split_b").alias("split_lo"),
        F.greatest("split_a", "split_b").alias("split_hi"),
    ).agg(F.count("*").alias("n_leaked_pairs"))


@register(
    "llm_lsh_recall_report",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ts
        FROM documents
    ), truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM toks a
        JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
              / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.8
    ), tok AS (
        SELECT doc_id, t.term, t.pos FROM documents,
          LATERAL (SELECT unnest(string_split(text, ' ')) AS term,
                          generate_subscripts(string_split(text, ' '), 1) AS pos) t
    ), sh AS (
        SELECT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS shingle
        FROM tok a
        JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ), sig AS (
        SELECT doc_id,
           MIN(CAST(('0x' || substr(md5('0_' || shingle), 1, 15)) AS BIGINT)) AS s0,
           MIN(CAST(('0x' || substr(md5('0_' || shingle), 16, 15)) AS BIGINT)) AS s1,
           MIN(CAST(('0x' || substr(md5('1_' || shingle), 1, 15)) AS BIGINT)) AS s2,
           MIN(CAST(('0x' || substr(md5('1_' || shingle), 16, 15)) AS BIGINT)) AS s3
        FROM sh GROUP BY doc_id
    ), cand AS (
        SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b ON a.s0 = b.s0 AND a.s1 = b.s1 AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b ON a.s2 = b.s2 AND a.s3 = b.s3 AND a.doc_id < b.doc_id
        ) p
    )
    SELECT (SELECT COUNT(*) FROM truth) AS n_true_pairs,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM truth JOIN cand USING (doc_a, doc_b))
               AS n_recovered,
           ROUND(CAST((SELECT COUNT(*) FROM truth JOIN cand USING (doc_a, doc_b))
                      AS DOUBLE)
                 / (SELECT COUNT(*) FROM truth), 6) AS recall
    """,
)
def llm_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate-recall SELF-REPORT — the quality metric that decides
    whether the 100-TB pipeline may replace exact O(N²) pair scanning
    with banded-MinHash candidates: exact lang-blocked Jaccard ≥ 0.8
    pairs (ground truth) vs the deterministic banded sketch's candidate
    pairs, joined to count recovered truth. Shipping the recall as a
    first-class QUERY (not only the test-suite gate in
    tests/test_ann_quality.py) is what lets a production pipeline monitor
    sketch degradation as the corpus drifts — recall is re-measured on
    every corpus snapshot, oracle-exact.

    Cost honesty: the ground-truth side is the blocked quadratic scan —
    this report runs on SAMPLES at production scale (hash-select ~1% of
    blocks, the llm_sample_hash_stratified machinery), never the full
    corpus; the candidate side is the production-priced sketch join.
    """
    from classification_problem_with_pyspark_spark.operators.extended2 import (
        llm_dedup_minhash_banded,
    )

    truth = llm_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    cand = llm_dedup_minhash_banded(spark, sf_dir)
    n_truth = truth.count()
    recovered = truth.join(cand, ["doc_a", "doc_b"]).count()
    n_cand = cand.count()
    return local_rows(
        spark,
        [
            (
                n_truth,
                n_cand,
                recovered,
                float(round(recovered / n_truth, 6)) if n_truth else 0.0,
            )
        ],
        "n_true_pairs long, n_candidates long, n_recovered long, recall double",
    )
