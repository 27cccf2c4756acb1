"""LLM-corpus tokenizers and text statistics (SURVEY.md §2.12): BPE-style
token counts, pair statistics and merge learning, tokenizer fertility and
offset audits, length tails, blocklists, keyness and collocations,
watermark detection, stylometry, readability, vocabulary growth,
repetition, compression and the quality-filter funnel. The per-document
text stats, quality score and language ID stay in ``llm.py``.

Provenance note (SURVEY.md §0): the reference repository was empty when
these keys were written, so no file:line citations into it are
possible. The patterns are public knowledge — byte-pair encoding
(Sennrich et al. 2016), tokenizer fertility, the Hill tail estimator
(1975), chi-squared keyness and pointwise-mutual-information lift,
green-list watermark detection (Kirchenbauer et al. 2023), Burrows-Delta
stylometry, the Flesch reading-ease formula, Heaps' vocabulary growth,
Friedman's index of coincidence, compression-ratio quality filters and
prefix-cache accounting — re-expressed on the public PySpark DataFrame
API over the driver's testdata.

Hash-parity discipline: counts are exact integers, ratios fold as
floor-micro divisions of exact integers, and the few double closers are
ROUND(·, 6) or one identical expression tree on both engines.

Scale posture (SURVEY.md §7.6): every key is a token explode followed by
map-side-combinable aggregates over bounded keys (language, source,
vocabulary top-k, length buckets); the BPE learner iterates over the
distinct-word table, never over token occurrences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum, grid_rank
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows


# BPE-ish tokenizer: letter runs, digit runs, single punctuation marks.
# Same RE2/Java-regex-compatible pattern string on both engines.
_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@register(
    "llm_token_count_bpe",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS re_tokens,
           ROUND(SUM(len(regexp_extract_all(text, '{_TOKEN_RE}')))
                 / COUNT(*), 6) AS avg_re_tokens_per_doc
    FROM documents
    GROUP BY lang
    """,
)
def llm_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for corpus budgeting (task-mandated LLM op): both
    whitespace tokens and a BPE-ish lexer (letter runs | digit runs |
    single punctuation) via regexp_extract_all, aggregated per language.
    Pure JVM expression work on the scan — no UDF, no explode, no shuffle
    beyond the 5-group agg — so it runs at full codegen speed over 100 TB
    of text. Explicit group-0 on both engines (Spark's default idx is 1).
    """
    d = load(spark, sf_dir, "documents")
    re_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0))
    ws_tokens = F.size(F.split(F.col("text"), " "))
    return d.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum(ws_tokens).alias("ws_tokens"),
        F.sum(re_tokens).alias("re_tokens"),
        F.round(F.sum(re_tokens) / F.count("*"), 6).alias("avg_re_tokens_per_doc"),
    )


@register(
    "llm_bpe_pair_stats",
    oracle="""
    WITH vocab AS (
        SELECT w AS word, COUNT(*) AS wfreq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        WHERE len(w) >= 2
        GROUP BY w
    ), pairs AS (
        SELECT substr(word, i, 2) AS pair, CAST(SUM(wfreq) AS BIGINT) AS pair_freq
        FROM vocab, UNNEST(generate_series(1, len(word) - 1)) AS g(i)
        GROUP BY substr(word, i, 2)
    ), ranked AS (
        SELECT pair, pair_freq,
               ROW_NUMBER() OVER (ORDER BY pair_freq DESC, pair) AS rnk
        FROM pairs
    )
    SELECT rnk, pair, pair_freq FROM ranked WHERE rnk <= 20
    """,
)
def llm_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate statistics (SURVEY.md §2.12): the hot inner
    pass of byte-pair-encoding tokenizer TRAINING — corpus frequency of
    every adjacent character pair, weighted by word frequency, top-20
    ranked. (`llm_token_count_bpe` applies a tokenizer; this is the pass
    that builds one.)

    The scale trick is the two-level aggregation: the fact-sized pass
    collapses the corpus to its VOCABULARY (word → count) first, and
    pair explosion runs over distinct words only — pair counts then
    weight by word frequency instead of re-scanning text. Vocabulary and
    pair tables are bounded (≈ vocab × word-length), so the final global
    rank window sorts a tiny table; all counts are exact integers.
    """
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("wfreq"))
    )
    pairs = (
        vocab.select(
            "wfreq",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
            "word",
        )
        .select(
            F.col("word").substr(F.col("i"), F.lit(2)).alias("pair"), F.col("wfreq")
        )
        .groupBy("pair")
        .agg(F.sum("wfreq").cast("long").alias("pair_freq"))
    )
    return (
        grid_rank(pairs, [F.desc("pair_freq"), F.asc("pair")], "rnk")
        .where(F.col("rnk") <= 20)
        .select("rnk", "pair", "pair_freq")
    )


def bpe_learn(
    spark: SparkSession, sf_dir: str, n_rounds: int, keep_word: bool = False
):
    """Shared BPE merge-learning loop (see llm_bpe_merge_learn for the
    algorithm and scale notes). Returns (words_df, merges): the final
    per-word symbol table — with the original word string retained when
    keep_word, so appliers can join token counts back to documents —
    and the learned merge list [(step, left, right, count)].
    """
    d = load(spark, sf_dir, "documents")
    lead = ["word"] if keep_word else []
    words = spread(
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("wcnt"))
        .select(
            *lead,
            F.col("wcnt"),
            F.split(F.col("word"), "(?!^)").alias("syms"),
        )
    ).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_rounds + 1):
        pairs = (
            words.where(F.size("syms") >= 2)
            .select(
                "wcnt",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda l, r: F.struct(l.alias("l"), r.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("wcnt").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((step, l, r, cnt))
        merged = l + r
        words = words.select(
            *lead,
            F.col("wcnt"),
            F.filter(
                F.aggregate(
                    "syms",
                    F.array().cast("array<string>"),
                    lambda acc, s: F.when(
                        # try_element_at: NULL (not ANSI error) on the empty
                        # initial accumulator; NULL == l is false-y as needed
                        (F.try_element_at(acc, F.lit(-1)) == F.lit(l))
                        & (s == F.lit(r)),
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1),
                            F.array(F.lit(merged)),
                        ),
                    ).otherwise(F.concat(acc, F.array(s))),
                ),
                lambda s: F.length(s) > 0,
            ).alias("syms"),
        ).localCheckpoint()
    return words, merges


@register("llm_bpe_merge_learn")
def llm_bpe_merge_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (SURVEY.md §2.12), 6 rounds: start
    from the character sequence of each word (the Sennrich et al. 2016
    setup), and per round (a) count all adjacent symbol pairs across
    the corpus, (b) pick the most frequent pair — ties broken
    lexicographically so the run is deterministic — and (c) apply the
    merge corpus-wide. Emits the learned merge table (step, left,
    right, pair_count): the actual artifact a tokenizer trainer ships.

    Complements `llm_bpe_pair_stats` (one static pair count) with the
    real iterative algorithm. Rows-only by necessity: a 6-round
    argmax-and-rewrite loop is not one SQL statement; the quality gate
    in tests/test_extended8.py recomputes the merges with a pure-Python
    reference BPE on the same corpus at sf0.001 and requires the merge
    tables to be IDENTICAL.

    Scale shape: each round is (explode word → adjacent pairs) →
    map-side-combinable groupBy(pair) → a 1-row argmax broadcast back
    into a JVM-side transform() that rewrites each word's symbol array
    in place — the corpus table stays partition-resident; only pair
    counts shuffle. Rounds are few and fixed (BPE vocab learning is
    embarrassingly iterative; production trainers batch merges per
    round the same way). The word table is localCheckpoint'd per round
    to keep lineage flat (the llm_dedup_cluster_cc precedent).
    """
    _, merges = bpe_learn(spark, sf_dir, 6)
    return local_rows(spark, merges, "step long, left string, right string, pair_count long")


@register("llm_tokenizer_apply_merges")
def llm_tokenizer_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply learned BPE merges to tokenize the corpus (SURVEY.md
    §2.12): run the 6-round merge learner (`llm_bpe_merge_learn`'s
    loop, shared helper), then tokenize every document with the final
    per-word symbol table and report per-document character count,
    BPE token count, and the compression ratio in micro-units — the
    train-then-apply half of the tokenizer lifecycle, and the actual
    quantity (tokens per doc) a data pipeline budgets by.

    Rows-only: the input is a learned artifact (an iterative argmax
    loop), not SQL. tests/test_extended10.py recomputes the tokenization
    with the pure-python reference BPE at sf0.001 and requires
    identical per-document token counts.

    Scale: tokenization joins the DISTINCT-word token-count table back
    to the exploded corpus — per-word INTEGER counts shuffle, never
    symbol arrays; the sum per doc is map-side-combinable. This is how
    a 100-TB corpus is tokenized for budget accounting without running
    the tokenizer over every occurrence.
    """
    words, _ = bpe_learn(spark, sf_dir, 6, keep_word=True)
    token_counts = words.select(
        "word", F.size("syms").cast("long").alias("n_tokens_word")
    )
    d = load(spark, sf_dir, "documents")
    occurrences = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.length("word") > 0)
    return (
        occurrences.join(token_counts, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_chars_tok"),
            F.sum("n_tokens_word").cast("long").alias("n_tokens_bpe"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars_tok",
            "n_tokens_bpe",
            F.floor(1000000.0 * F.col("n_chars_tok") / F.col("n_tokens_bpe"))
            .cast("long")
            .alias("chars_per_token_micro"),
        )
        .orderBy("doc_id")
    )


CHARS_PER_EXTRA_TOKEN = 8  # stand-in BPE: 1 token/word + len DIV 8 extras


@register(
    "llm_tokenizer_fertility_by_lang",
    oracle=f"""
    WITH words AS (
        SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    per_doc AS (
        SELECT lang, doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(1 + length(w) // {CHARS_PER_EXTRA_TOKEN}) AS BIGINT)
                   AS n_tokens,
               CAST(SUM(length(w)) AS BIGINT) AS n_chars
        FROM words WHERE w <> '' GROUP BY lang, doc_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST((1000000 * SUM(n_tokens)) // SUM(n_words) AS BIGINT)
               AS fertility_micro,
           CAST((1000000 * SUM(n_chars)) // SUM(n_tokens) AS BIGINT)
               AS chars_per_token_micro
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def llm_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language (SURVEY.md §2.12): tokens per
    word and characters per token, per language — the multilingual-
    equity metric: a language with 2× fertility pays 2× serving
    compute and fits half the context for the same text, which is why
    tokenizer reports always break fertility out by language before a
    vocab is frozen. The tokenizer is the registry's deterministic
    stand-in (one token per word plus one extra per
    {CHARS_PER_EXTRA_TOKEN} chars — the length-driven fertility shape
    real BPE exhibits, with no vocab state to drift); the measurement
    pipeline is the product, and a real tokenizer's (doc, n_tokens)
    table drops into the same rollup.

    Exactness: integer word/char/token counts, floor-micro ratios.

    Scale: explode to words, two map-side-combinable aggregations
    (per doc, per lang) — the corpus-wide fertility audit is a
    counting job, which is why it runs on every tokenizer candidate.
    """
    words = load(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    per_doc = words.groupBy("lang", "doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(1 + F.floor(F.length("w") / CHARS_PER_EXTRA_TOKEN))
        .cast("long")
        .alias("n_tokens"),
        F.sum(F.length("w")).cast("long").alias("n_chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.expr(
                "CAST((1000000 * SUM(n_tokens)) DIV SUM(n_words) AS BIGINT)"
            ).alias("fertility_micro"),
            F.expr(
                "CAST((1000000 * SUM(n_chars)) DIV SUM(n_tokens) AS BIGINT)"
            ).alias("chars_per_token_micro"),
        )
        .orderBy("lang")
    )


@register(
    "llm_token_offsets_audit",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(length(text) AS BIGINT) AS text_len,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(string_split(text, ' ')) - 1 AS BIGINT) AS n_seps,
               CAST((SELECT COALESCE(SUM(length(t)), 0)
                     FROM unnest(string_split(text, ' ')) AS u(t))
                    AS BIGINT) AS token_chars
        FROM documents
    ),
    audited AS (
        SELECT source,
               text_len - token_chars - n_seps AS deficit,
               CASE WHEN text_len = token_chars + n_seps
                    THEN 1 ELSE 0 END AS tiles_exactly
        FROM toks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tiles_exactly) AS BIGINT) AS n_exact_tilings,
           CAST(SUM(1 - tiles_exactly) AS BIGINT) AS n_lossy,
           CAST(SUM(deficit) AS BIGINT) AS total_deficit_chars,
           CAST(MAX(deficit) AS BIGINT) AS max_deficit_chars
    FROM audited
    GROUP BY source
    ORDER BY source
    """,
)
def llm_token_offsets_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-offset conservation (SURVEY.md §2.12): single-character
    split tokenization must TILE the source exactly — Σ token chars +
    (n−1) separators = text length — an IDENTITY for a faithful
    splitter (consecutive separators yield empty tokens that preserve
    it). What the hash therefore pins is the cross-engine SPLIT
    SEMANTICS: an engine that dropped empty tokens, trimmed
    boundaries, or collapsed separator runs would break the identity
    on exactly the documents exhibiting those edges — the silent
    divergences that corrupt span-aligned label data (the reason HF
    fast tokenizers expose offsets at all). Conservation-law keys of
    this kind (see `agg_moments_merge_audit`) make an algebraic
    guarantee falsifiable rather than assumed.

    Exactness: pure integer length algebra.

    Scale: per-row arithmetic + one census; offset audits run at
    ingest rate or not at all.
    """
    toks = load(spark, sf_dir, "documents").select(
        "source",
        F.length("text").cast("long").alias("text_len"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.aggregate(
            F.split("text", " "),
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.length(t).cast("long"),
        ).alias("token_chars"),
    )
    audited = toks.select(
        "source",
        (
            F.col("text_len")
            - F.col("token_chars")
            - (F.col("n_tokens") - 1)
        ).alias("deficit"),
    ).withColumn(
        "tiles_exactly", F.when(F.col("deficit") == 0, 1).otherwise(0)
    )
    return (
        audited.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tiles_exactly").cast("long").alias("n_exact_tilings"),
            F.sum(1 - F.col("tiles_exactly")).cast("long").alias("n_lossy"),
            F.sum("deficit").cast("long").alias("total_deficit_chars"),
            F.max("deficit").cast("long").alias("max_deficit_chars"),
        )
        .orderBy("source")
    )


HILL_K = 50  # top-k tail order statistics entering the estimator


@register(
    "llm_length_powerlaw_hill",
    oracle=f"""
    WITH lens AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_words,
               row_number() OVER (ORDER BY n_words DESC, doc_id) AS rn
        FROM lens
    ),
    xk AS (
        SELECT n_words AS x_k1 FROM ranked WHERE rn = {HILL_K} + 1
    ),
    terms AS (
        SELECT CAST(round(1000000 * ln(CAST(r.n_words AS DOUBLE) / x.x_k1))
                    AS BIGINT) AS ln_micro
        FROM ranked r, xk x
        WHERE r.rn <= {HILL_K}
    )
    SELECT CAST({HILL_K} AS BIGINT) AS k,
           (SELECT CAST(x_k1 AS BIGINT) FROM xk) AS tail_threshold_words,
           CAST(SUM(ln_micro) AS BIGINT) AS sum_ln_micro,
           CASE WHEN SUM(ln_micro) = 0 THEN NULL
                ELSE CAST(round(1000000.0 * {HILL_K} * 1000000
                           / CAST(SUM(ln_micro) AS DOUBLE)) AS BIGINT)
           END AS alpha_micro
    FROM terms
    """,
)
def llm_length_powerlaw_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimate for document lengths (SURVEY.md §2.12):
    α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top-{HILL_K} length order
    statistics — the standard answer to "how heavy is this corpus's
    long-document tail" (α ≈ 1-2: very heavy, sharding by doc count
    will skew by bytes; α large: near-exponential, length is benign).
    The number feeds shard planning and truncation policy beside the
    registry's doc-packing and vocab-growth keys.

    Exactness: the top-(k+1) membership is a (length DESC, doc_id)
    total order; each ln ratio rounds to micro-nats independently and
    sums as BIGINT; α̂ closes as one identical double expression.

    Scale: the top-(k+1) selection is distributed — a bounded
    distinct-length histogram gives base ranks, a broadcast prune keeps
    only lengths that can reach rank k+1, and the residual rank is
    length-partitioned; no full sort, no pair work; k is a constant.

    Degenerate-tail guard (round-5, ADVICE r4): if every top-k length
    ties with x₍ₖ₊₁₎, Σ ln_micro = 0 and the close would divide by
    zero — inf under non-ANSI cast, silently NULLed only on one side.
    Both sides now return an explicit NULL alpha in that case (CASE
    WHEN SUM = 0), and tests/test_extended115.py asserts the fixture
    keeps sum_ln_micro > 0 so the guard stays dormant on real data.
    """
    lens = (
        spread(load(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_words"),
        )
    )
    # De-globalized top-(k+1) (r8): base = strictly-longer doc count from
    # the bounded distinct-length histogram; only length values whose base
    # can still reach rank k+1 join back (broadcast semi-prune), then the
    # global rank is base + a length-partitioned row_number. No doc row
    # funnels through one sort task.
    hist = lens.groupBy("n_words").agg(F.count("*").alias("c"))
    base = grid_cumsum(
        hist,
        [F.desc("n_words")],
        [("base", "c")],
        keep=["n_words"],
        frame_end=-1,
    ).where(F.col("base") <= HILL_K)
    w_in = Window.partitionBy("n_words").orderBy("doc_id")
    ranked = (
        lens.join(F.broadcast(base), "n_words")
        .withColumn("rn", F.col("base") + F.row_number().over(w_in))
        .where(F.col("rn") <= HILL_K + 1)
    )
    xk = ranked.where(F.col("rn") == HILL_K + 1).select(
        F.col("n_words").alias("x_k1")
    )
    terms = (
        ranked.where(F.col("rn") <= HILL_K)
        .crossJoin(F.broadcast(xk))
        .select(
            F.expr(
                "CAST(round(1000000 * ln(CAST(n_words AS DOUBLE) / x_k1))"
                " AS BIGINT)"
            ).alias("ln_micro")
        )
    )
    return terms.crossJoin(F.broadcast(xk)).agg(
        F.lit(HILL_K).cast("long").alias("k"),
        F.max("x_k1").cast("long").alias("tail_threshold_words"),
        F.sum("ln_micro").cast("long").alias("sum_ln_micro"),
        F.expr(
            "CASE WHEN SUM(ln_micro) = 0 THEN NULL"
            f" ELSE CAST(round(1000000.0 * {HILL_K} * 1000000"
            " / CAST(SUM(ln_micro) AS DOUBLE)) AS BIGINT) END"
        ).alias("alpha_micro"),
    )


BLOCKLIST = ("slow", "big", "small", "merge", "scan")


@register(
    "llm_blocklist_filter",
    oracle="""
    SELECT d.lang, w.term,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs_hit
    FROM documents d,
         UNNEST(list_filter(string_split(d.text, ' '),
                t -> list_contains(['slow','big','small','merge','scan'], t)))
             AS w(term)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-blocklist content filter (SURVEY.md §2.12), the policy-
    filter stage every public corpus pipeline runs (C4's badwords list
    is the canonical example — here the list is a 5-term fixture over
    the synthetic vocabulary): per (lang, term), how many times each
    blocklisted term occurs and how many documents it taints.

    EXACT-WORD semantics: terms match against the split word array, not
    substrings — "scan" never matches "scanner" — which is both the
    correct policy behavior and what keeps the two engines trivially
    identical (no regex dialect in play). The flag decision per doc is
    an array intersect (JVM higher-order filter, no corpus explode);
    only the MATCHES explode for the per-term histogram.

    Scale: the blocklist is a literal in the plan (broadcast by
    construction); real lists (thousands of terms) move to a broadcast
    join against the exploded match stream or a JVM-side set in a
    higher-order lambda — same shape. One shuffle: the final group.
    """
    d = load(spark, sf_dir, "documents")
    terms = F.array(*[F.lit(t) for t in BLOCKLIST])
    matches = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split("text", " "), lambda w: F.array_contains(terms, w))
        ).alias("term"),
    )
    return (
        matches.groupBy("lang", "term")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs_hit"),
        )
        .orderBy("lang", "term")
    )


@register(
    "llm_keyness_chi2",
    oracle="""
    WITH grams AS (
        SELECT source,
               array_to_string(list_slice(toks, i, i + 1), ' ') AS g
        FROM (
            SELECT source, string_split(text, ' ') AS toks,
                   unnest(range(1, len(string_split(text, ' ')))) AS i
            FROM documents WHERE len(string_split(text, ' ')) >= 2
        ) x
    ),
    pair AS (
        SELECT source, g, CAST(count(*) AS BIGINT) AS a
        FROM grams GROUP BY source, g
    ),
    gm AS (SELECT g, CAST(count(*) AS BIGINT) AS g_tot FROM grams GROUP BY g),
    sm AS (
        SELECT source, CAST(count(*) AS BIGINT) AS s_tot
        FROM grams GROUP BY source
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM grams),
    cont AS (
        SELECT p.source, p.g, p.a,
               gm.g_tot - p.a AS b,
               sm.s_tot - p.a AS c,
               nn.n - gm.g_tot - sm.s_tot + p.a AS d,
               nn.n AS n
        FROM pair p JOIN gm USING (g) JOIN sm USING (source), nn
    ),
    scored AS (
        SELECT source, g, a,
               CAST(n AS DOUBLE)
               * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                  - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
               * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                  - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
               / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                  * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) AS chi2
        FROM cont
    ),
    top AS (
        SELECT source, g AS bigram, a AS n_occurrences, chi2,
               row_number() OVER (PARTITION BY source
                                  ORDER BY chi2 DESC, g) AS pos
        FROM scored
    )
    SELECT source, CAST(pos AS BIGINT) AS pos, bigram, n_occurrences, chi2
    FROM top WHERE pos <= 3 ORDER BY source, pos
    """,
)
def llm_keyness_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square keyness: the 3 most source-distinctive word bigrams
    per document source (SURVEY.md §2.12) — the corpus-linguistics
    keyword-extraction recipe: a 2×2 contingency (this bigram vs rest ×
    this source vs rest) scored by χ², ranked per source. The
    distinctive-vocabulary report run when auditing what makes one data
    source different from the mixture (beside `llm_tfidf`'s per-doc
    weighting and `llm_ngram_profile`'s global counts).

    Exactness: contingency counts are exact BIGINTs; χ² is ONE double
    expression mirrored text-for-text (exact int→double conversions,
    identical IEEE op order ⇒ bit-identical doubles — the ztest
    precedent); the cut is total-order deterministic (χ² DESC, bigram).

    Scale: two map-side-combinable groupBys (pair + margins); margins
    broadcast; ranking windows run per source over the bounded
    per-source vocabulary.
    """
    d = load(spark, sf_dir, "documents")
    grams = word_ngrams(d, 2, "source").withColumnRenamed("ngram", "g")
    pair = grams.groupBy("source", "g").agg(F.count("*").alias("a"))
    gm = grams.groupBy("g").agg(F.count("*").alias("g_tot"))
    sm = grams.groupBy("source").agg(F.count("*").alias("s_tot"))
    nn = grams.agg(F.count("*").alias("n"))
    cont = (
        pair.join(F.broadcast(gm), "g")
        .join(F.broadcast(sm), "source")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            "g",
            "a",
            (F.col("g_tot") - F.col("a")).alias("b"),
            (F.col("s_tot") - F.col("a")).alias("c"),
            (F.col("n") - F.col("g_tot") - F.col("s_tot") + F.col("a")).alias(
                "d"
            ),
            "n",
        )
    )
    chi2 = F.expr(
        "CAST(n AS DOUBLE)"
        " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
        "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
        " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
        "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
        " / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)"
        "    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))"
    )
    w = Window.partitionBy("source").orderBy(F.desc("chi2"), "g")
    top = cont.select(
        "source",
        "g",
        "a",
        chi2.alias("chi2"),
    ).select(
        "source",
        F.col("g").alias("bigram"),
        F.col("a").alias("n_occurrences"),
        "chi2",
        F.row_number().over(w).alias("pos"),
    )
    return (
        top.where(F.col("pos") <= 3)
        .select(
            "source",
            F.col("pos").cast("long").alias("pos"),
            "bigram",
            "n_occurrences",
            "chi2",
        )
        .orderBy("source", "pos")
    )


WM_Z2_FLAG = 16  # flag docs with z^2 > 16 (|z| > 4)


@register(
    "llm_watermark_greenlist",
    oracle=f"""
    WITH pairs AS (
        SELECT doc_id,
               toks[i] AS prev, toks[i + 1] AS cur
        FROM (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   unnest(range(1, len(string_split(text, ' ')))) AS i
            FROM documents WHERE len(string_split(text, ' ')) >= 2
        ) x
    ),
    flagged AS (
        SELECT doc_id,
               CASE WHEN CAST(('0x' || substr(md5('wm_' || prev || '_' || cur),
                                              1, 15)) AS BIGINT) % 2 = 0
                    THEN 1 ELSE 0 END AS green
        FROM pairs
    ),
    per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(SUM(green) AS BIGINT) AS n_green
        FROM flagged GROUP BY doc_id
    )
    SELECT doc_id, n_pairs, n_green,
           CAST((1000000 * (2 * n_green - n_pairs) * (2 * n_green - n_pairs))
                // n_pairs AS BIGINT) AS z_sq_micro,
           (2 * n_green - n_pairs) * (2 * n_green - n_pairs)
               > {WM_Z2_FLAG} * n_pairs AS is_flagged
    FROM per_doc
    """,
)
def llm_watermark_greenlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Green-list watermark detection (SURVEY.md §2.12): for every
    adjacent token pair, the successor is "green" when the md5 parity
    of (prev, cur) selects it — natural text lands near 50% green, a
    Kirchenbauer-style watermarked generator over-selects green, and
    the per-doc proportion z² = (2g−n)²/n separates them. On this
    (unwatermarked) corpus no doc should cross |z| > 4 — the honest
    negative result; the detection mechanics are proven in tests by
    constructing a greedily-green synthetic text and checking it flags.

    Exactness: greenness is an md5 parity bit; z² folds as one integer
    division in micro units; the flag is the pure integer comparison
    (2g−n)² > 16n.

    Scale: one narrow pair explode + doc-keyed rollup — no shuffle
    beyond the per-doc combine; runs at scan speed over 100 TB of text.
    """
    d = load(spark, sf_dir, "documents")
    pairs = (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(element_at(toks, i) AS prev,"
                    " element_at(toks, i + 1) AS cur))"
                )
            ).alias("pr"),
        )
        .select("doc_id", F.col("pr.prev").alias("prev"), F.col("pr.cur").alias("cur"))
    )
    green = (
        md5_long(F.concat(F.lit("wm_"), F.col("prev"), F.lit("_"), F.col("cur")))
        % 2
        == 0
    ).cast("long")
    per_doc = pairs.select("doc_id", green.alias("green")).groupBy("doc_id").agg(
        F.count("*").alias("n_pairs"),
        F.sum("green").alias("n_green"),
    )
    return per_doc.select(
        "doc_id",
        "n_pairs",
        "n_green",
        F.expr(
            "CAST((1000000 * (2 * n_green - n_pairs) * (2 * n_green - n_pairs))"
            " DIV n_pairs AS BIGINT)"
        ).alias("z_sq_micro"),
        F.expr(
            f"(2 * n_green - n_pairs) * (2 * n_green - n_pairs)"
            f" > {WM_Z2_FLAG} * n_pairs"
        ).alias("is_flagged"),
    )


STYLE_TOP_K = 20  # vocabulary size for the style profiles


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


@register(
    "llm_readability_flesch",
    oracle="""
    WITH m AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
               CAST(1 + length(text) - length(replace(text, '.', ''))
                    AS BIGINT) AS sents,
               CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+'))
                    AS BIGINT) AS syllables
        FROM documents
    )
    SELECT doc_id, lang, words, sents, syllables,
           CAST(206835 - (1015 * words) // sents
                       - (84600 * syllables) // words AS BIGINT)
               AS flesch_milli
    FROM m
    """,
)
def llm_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (SURVEY.md §2.12 text
    analysis): 206.835 − 1.015·(words/sentence) − 84.6·(syllables/word)
    with the standard vowel-run syllable heuristic — the readability
    feature quality filters add next to `llm_quality_score`'s
    length/TTR signals (very low Flesch marks run-on or
    consonant-garbage text). Sentences count period-delimited spans
    (this corpus has none → every doc is one sentence, truthfully
    reported; the formula still ranks by syllable density).

    Exactness: Flesch's constants carry exactly three decimals, so the
    WHOLE formula folds in milli units with two integer divisions —
    no float constants at query time.

    Scale: one narrow projection (split/replace/regexp counts) at scan
    speed; no shuffle at all.
    """
    d = load(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("words"),
        (
            1 + F.length("text") - F.length(F.replace(F.col("text"), F.lit(".")))
        )
        .cast("long")
        .alias("sents"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[aeiouAEIOU]+"), 0))
        .cast("long")
        .alias("syllables"),
    )
    return m.select(
        "doc_id",
        "lang",
        "words",
        "sents",
        "syllables",
        F.expr(
            "CAST(206835 - (1015 * words) DIV sents"
            " - (84600 * syllables) DIV words AS BIGINT)"
        ).alias("flesch_milli"),
    )


VOCAB_BATCH = 50  # docs per ingestion batch in the growth curve


@register(
    "llm_vocab_growth_curve",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id // {VOCAB_BATCH} AS batch,
               array_to_string(list_slice(toks, i, i + 2), ' ') AS s
        FROM (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   unnest(range(1, len(string_split(text, ' ')) - 1)) AS i
            FROM documents WHERE len(string_split(text, ' ')) >= 3
        ) x
    ),
    first_seen AS (
        SELECT s, CAST(min(batch) AS BIGINT) AS first_batch FROM sh GROUP BY s
    ),
    per_batch AS (
        SELECT first_batch AS batch, CAST(count(*) AS BIGINT) AS n_new
        FROM first_seen GROUP BY first_batch
    )
    SELECT batch, n_new,
           CAST(SUM(n_new) OVER (ORDER BY batch
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT)
               AS cum_vocab
    FROM per_batch ORDER BY batch
    """,
)
def llm_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary (3-shingle) growth curve per ingestion batch
    (SURVEY.md §2.12): how many NEVER-BEFORE-SEEN shingles each batch
    of {VOCAB_BATCH} documents contributes, plus the cumulative
    vocabulary — the Heaps-law curve corpus planners read to decide
    whether more of the same data still buys new n-grams (a flattening
    curve says dedup/diversify instead of ingest more); the per-batch
    view of `llm_ngram_novelty`'s per-doc scores.

    Exactness: first-seen is a min-batch aggregation per shingle (the
    idiom that never sorts occurrences); counts and the cumulative
    window are exact integers.

    Scale: one shingle-keyed map-side-combinable min + a per-batch
    rollup. The batch axis GROWS with the corpus (~corpus/batch rows —
    10→98 per SF decade, caught by the r11 trend gate), so the
    cumulative window is the bucket-stitch form with RANGE-NORMALIZED
    buckets: fixed 1024 buckets over the broadcast min/max batch id
    keep the only single-task window ≤1k rows at any corpus size.
    """
    d = load(spark, sf_dir, "documents")
    sh = word_ngrams(d.withColumn("batch", F.expr(f"doc_id DIV {VOCAB_BATCH}")), 3, "batch")
    first_seen = sh.groupBy("ngram").agg(F.min("batch").alias("first_batch"))
    per_batch = first_seen.groupBy(
        F.col("first_batch").alias("batch")
    ).agg(F.count("*").alias("n_new"))
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_cumsum,
    )

    return (
        bucketed_global_cumsum(
            per_batch, "batch", [], [("cum_raw", "n_new")], value_range_k=1024
        )
        .select("batch", "n_new", F.col("cum_raw").cast("long").alias("cum_vocab"))
        .orderBy("batch")
    )


@register(
    "llm_repetition_ratio",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, tok, COUNT(*) AS c
        FROM (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ) t
        GROUP BY doc_id, lang, tok
    ),
    per_doc AS (
        SELECT doc_id, lang,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_distinct,
               MAX(c) AS top_token_cnt
        FROM tok GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, n_tokens, n_distinct,
           ROUND(CAST(top_token_cnt AS DOUBLE) / n_tokens, 6) AS top_token_share,
           ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS type_token_ratio,
           CASE WHEN CAST(top_token_cnt AS DOUBLE) / n_tokens > 0.1 THEN 'repetitive'
                WHEN CAST(n_distinct AS DOUBLE) / n_tokens < 0.2 THEN 'low_diversity'
                ELSE 'ok' END AS quality_flag
    FROM per_doc
    """,
)
def llm_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics — top-token share and type-token
    ratio — the cheap quality filter that catches boilerplate/looping
    text before expensive dedup stages in a pretraining pipeline.

    explode → (doc, token) count → per-doc aggregate: both groupBys key
    on doc_id so the second reuses the first's partitioning (one real
    shuffle); all ratios derive from exact integer counts, rounded (,6)
    on both engines.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    tok = (
        d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count("*").alias("c"))
    )
    per_doc = tok.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_token_cnt"),
    )
    top_share = F.col("top_token_cnt").cast("double") / F.col("n_tokens")
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_distinct",
        F.round(top_share, 6).alias("top_token_share"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.when(top_share > 0.1, "repetitive")
        .when(ttr < 0.2, "low_diversity")
        .otherwise("ok")
        .alias("quality_flag"),
    )


@register("llm_compression_quality", oracle=None)
def llm_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap proxy for
    repetitive/boilerplate text (highly compressible ⇒ low information
    density; used alongside `llm_repetition_ratio` as a pretraining
    quality gate).

    Arrow-path showcase done right: mapInPandas with a fixed zlib level —
    one Python worker round-trip per PARTITION of Arrow batches, never
    per row; the stage is embarrassingly parallel and shuffle-free (the
    final per-lang ordering is the only exchange). Rows-only: zlib is not
    SQL-expressible; determinism (fixed level ⇒ identical bytes) and a
    direct-zlib spot check live in tests/test_scale_helpers.py.
    """
    import pandas as pd

    d = spread(load(spark, sf_dir, "documents"), "doc_id")

    def score(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp_len = raw.map(lambda b: len(zlib.compress(b, 6)))
            raw_len = raw.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "raw_bytes": raw_len,
                    "compressed_bytes": comp_len,
                    "compression_ratio": (comp_len / raw_len).round(6),
                }
            )

    out = d.select("doc_id", "lang", "text").mapInPandas(
        score,
        schema=(
            "doc_id long, lang string, raw_bytes long, "
            "compressed_bytes long, compression_ratio double"
        ),
    )
    return out.withColumn(
        "quality_flag",
        F.when(F.col("compression_ratio") < 0.3, "highly_compressible")
        .when(F.col("compression_ratio") > 0.8, "incompressible")
        .otherwise("normal"),
    )


@register(
    "llm_vocab_coverage",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (
        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ),
    ranked AS (
        SELECT token, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank,
               SUM(cnt) OVER (ORDER BY cnt DESC, token
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_cnt,
               SUM(cnt) OVER () AS total_cnt
        FROM vocab
    )
    SELECT rank, token, cnt,
           ROUND(CAST(cum_cnt AS DOUBLE) / total_cnt, 6) AS cumulative_coverage
    FROM ranked
    WHERE rank <= 20
    """,
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: top-20 corpus tokens by frequency with
    the cumulative share of all token occurrences they cover — the
    statistic behind tokenizer vocab sizing (how big must the vocab be to
    cover X% of the corpus).

    The fact-sized work is the (token → count) aggregation — map-side
    partial, one shuffle on token. The ranking windows run over the
    AGGREGATED vocabulary (bounded by vocab size, never raw tokens);
    (cnt DESC, token) is a total order so ranks and cumulative integer
    sums are deterministic on both engines.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    order = [F.desc("cnt"), F.asc("token")]
    tot = vocab.agg(F.sum("cnt").alias("total_cnt"))
    ranked = grid_cumsum(
        grid_rank(vocab.crossJoin(F.broadcast(tot)), order, "rank"),
        order,
        [("cum_cnt", "cnt")],
        keep=["token", "cnt", "rank", "total_cnt"],
    )
    return ranked.where(F.col("rank") <= 20).select(
        "rank",
        "token",
        "cnt",
        F.round(F.col("cum_cnt").cast("double") / F.col("total_cnt"), 6).alias(
            "cumulative_coverage"
        ),
    )


@register(
    "llm_word_bigrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bigrams AS (
        SELECT t[i] || ' ' || t[i + 1] AS bigram
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks) x
    ),
    counted AS (
        SELECT bigram, COUNT(*) AS cnt FROM bigrams GROUP BY bigram
    )
    SELECT bigram, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, bigram) AS rank
    FROM counted
    QUALIFY rank <= 15
    """,
)
def llm_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 adjacent word bigrams across the corpus — the pair-count
    statistic that drives one BPE merge step (most frequent adjacent pair
    becomes the next merge) and collocation mining.

    Bigrams are built JVM-side by `word_ngrams` (no position self-join);
    the only fact-sized shuffle is the (bigram → count) aggregation, and
    ranking runs over
    the aggregated pair vocabulary with a total (cnt DESC, bigram) order.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    counted = (
        word_ngrams(d, 2).groupBy(F.col("ngram").alias("bigram")).agg(F.count("*").alias("cnt"))
    )
    return (
        grid_rank(counted, [F.desc("cnt"), F.asc("bigram")], "rank")
        .where(F.col("rank") <= 15)
        .select("bigram", "cnt", "rank")
    )


@register(
    "llm_index_of_coincidence",
    oracle="""
    WITH letters AS (
        SELECT lang, unnest(string_split_regex(lower(text), '')) AS ch
        FROM documents
    ),
    counted AS (
        SELECT lang, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM letters WHERE ch BETWEEN 'a' AND 'z'
        GROUP BY lang, ch
    ),
    folded AS (
        SELECT lang,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * (c - 1)) AS BIGINT) AS coincidences,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_letters
        FROM counted GROUP BY lang
    )
    SELECT lang, n, n_distinct_letters,
           CAST((1000000 * coincidences) // (n * (n - 1)) AS BIGINT)
               AS ic_micro
    FROM folded
    ORDER BY lang
    """,
)
def llm_index_of_coincidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of coincidence (SURVEY.md §2.12): the probability that two
    letters drawn without replacement from a language's corpus match —
    Σc(c−1)/(N(N−1)) over the a-z letter counts (Friedman 1922).
    English-like text sits near 0.065, uniform-random letters at
    1/26 ≈ 0.038 — which is why IC is both the classical cipher
    fingerprint and a zero-model "languageness" feature that
    complements the registry's n-gram language-ID: it needs no
    training corpus at all, only counting.

    Exactness: letter counts are integers; IC folds one floor-micro
    division of exact products — IC over a corpus is a pure rational.

    Scale: explode to letters, count per (lang, letter) — map-side
    combinable into at most 26 cells per language — then a per-lang
    fold. The cheapest text statistic there is.
    """
    letters = load(spark, sf_dir, "documents").select(
        "lang",
        F.explode(F.split(F.lower("text"), "")).alias("ch"),
    ).where(F.col("ch").between("a", "z"))
    counted = letters.groupBy("lang", "ch").agg(F.count("*").alias("c"))
    folded = counted.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("coincidences"),
        F.count("*").alias("n_distinct_letters"),
    )
    return folded.select(
        "lang",
        "n",
        "n_distinct_letters",
        F.expr(
            "CAST((1000000 * coincidences) DIV (n * (n - 1)) AS BIGINT)"
        ).alias("ic_micro"),
    ).orderBy("lang")


LIFT_MIN_SUPPORT = 5  # bigram must occur at least this often
LIFT_TOP = 25


@register(
    "llm_collocation_lift",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    words AS (
        SELECT unnest(ws) AS w FROM toks
    ),
    uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w
        FROM words WHERE w <> '' GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n FROM uni),
    bi AS (
        SELECT ws[i] AS w1, ws[i + 1] AS w2,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        WHERE ws[i] <> '' AND ws[i + 1] <> ''
        GROUP BY ws[i], ws[i + 1]
        HAVING COUNT(*) >= {LIFT_MIN_SUPPORT}
    ),
    lifted AS (
        SELECT b.w1, b.w2, b.n_ab, ua.n_w AS n_a, ub.n_w AS n_b,
               (1000000 * b.n_ab * t.n) // (ua.n_w * ub.n_w) AS lift_micro
        FROM bi b
        JOIN uni ua ON ua.w = b.w1
        JOIN uni ub ON ub.w = b.w2
        CROSS JOIN tot t
    )
    SELECT w1, w2, n_ab, n_a, n_b,
           CAST(lift_micro AS BIGINT) AS lift_micro,
           CAST(rk AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (ORDER BY lift_micro DESC, w1, w2) AS rk
        FROM lifted
    ) z
    WHERE rk <= {LIFT_TOP}
    ORDER BY rank
    """,
)
def llm_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation lift (SURVEY.md §2.12): the top-{LIFT_TOP} adjacent
    word pairs by association lift n_ab·N/(n_a·n_b) — exp(PMI), the
    Church-Hanks association ratio WITHOUT the logarithm, which is
    the whole trick: ranking by lift ranks exactly like ranking by
    PMI (log is monotone), and lift is a pure integer cross-ratio, so
    the classic collocation table becomes hash-exact. The minimum-
    support gate ({LIFT_MIN_SUPPORT}) is the standard guard against
    the hapax-pair degeneracy that dominates unfiltered PMI lists.

    Exactness: integer counts and one floor-micro cross-ratio; the
    top-k order is (lift DESC, w1, w2) — total.

    Scale: one unigram count, one adjacent-bigram count (both
    map-side combinable), two dictionary joins — the n-gram
    statistics shape the BPE keys already run, pointed at
    association instead of frequency.
    """
    toks = load(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("ws")
    )
    words = toks.select(F.explode("ws").alias("w")).where(F.col("w") != "")
    uni = words.groupBy("w").agg(F.count("*").alias("n_w"))
    tot = uni.agg(F.sum("n_w").cast("long").alias("n"))
    bi = (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at("ws", i).alias("w1"),
                        F.element_at("ws", i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= LIFT_MIN_SUPPORT)
    )
    lifted = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            F.expr("(1000000 * n_ab * n) DIV (n_a * n_b)").alias("lift_micro"),
        )
    )
    return (
        grid_rank(lifted, [F.desc("lift_micro"), "w1", "w2"], "rank")
        .where(F.col("rank") <= LIFT_TOP)
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            F.col("lift_micro").cast("long").alias("lift_micro"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("rank")
    )


@register(
    "llm_filter_funnel",
    oracle="""
    WITH gated AS (
        SELECT source,
               (n_chars BETWEEN 100 AND 20000) AS g_len,
               len(string_split(text, ' ')) >= 20 AS g_words,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) >= 0.3 AS g_unique
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN g_len THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_len,
           CAST(SUM(CASE WHEN g_len AND g_words THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass_words,
           CAST(SUM(CASE WHEN g_len AND g_words AND g_unique THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass_all,
           ROUND(CAST(SUM(CASE WHEN g_len AND g_words AND g_unique
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS retention
    FROM gated
    GROUP BY source
    """,
)
def llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stage quality filter funnel — the per-source retention
    report every corpus-cleaning pipeline emits (which stage kills which
    source's documents): length gate → minimum word count → unique-word
    ratio, with sequential pass counts and final retention.

    One pass of conditional aggregation over the scan (all three gates
    evaluate per row in codegen; no per-stage jobs, no Python). At 100 TB
    this is the cheapest possible shape: scan + map-side partial agg on
    the low-cardinality source key.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    words = F.split("text", " ")
    g_len = F.col("n_chars").between(100, 20000)
    g_words = F.size(words) >= 20
    g_unique = (
        F.size(F.array_distinct(words)).cast("double") / F.size(words) >= 0.3
    )
    gated = d.select(
        "source",
        g_len.alias("g_len"),
        g_words.alias("g_words"),
        g_unique.alias("g_unique"),
    )
    pass_all = F.col("g_len") & F.col("g_words") & F.col("g_unique")
    return gated.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("g_len").cast("long")).alias("n_pass_len"),
        F.sum((F.col("g_len") & F.col("g_words")).cast("long")).alias("n_pass_words"),
        F.sum(pass_all.cast("long")).alias("n_pass_all"),
        F.round(F.sum(pass_all.cast("long")).cast("double") / F.count("*"), 6).alias(
            "retention"
        ),
    )


PREFIX_TOKENS = 16  # shared-prefix window (the radix tree's first level)


@register(
    "llm_prefix_cache_savings",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws
        FROM documents
    ),
    pfx AS (
        SELECT source,
               md5(array_to_string(ws[1:least(len(ws), {PREFIX_TOKENS})], ' '))
                   AS prefix_digest,
               CAST(least(len(ws), {PREFIX_TOKENS}) AS BIGINT) AS pfx_len,
               CAST(len(ws) AS BIGINT) AS n_toks
        FROM toks
    ),
    groups AS (
        SELECT source, prefix_digest, pfx_len,
               CAST(COUNT(*) AS BIGINT) AS grp_size,
               CAST(SUM(n_toks) AS BIGINT) AS grp_toks
        FROM pfx GROUP BY source, prefix_digest, pfx_len
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_prefix_groups,
           CAST(SUM(grp_size) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN grp_size > 1 THEN grp_size ELSE 0 END)
                AS BIGINT) AS docs_in_shared_groups,
           CAST(SUM(grp_toks) AS BIGINT) AS total_tokens,
           CAST(SUM((grp_size - 1) * pfx_len) AS BIGINT) AS cached_tokens,
           CAST((1000000 * SUM((grp_size - 1) * pfx_len)) // SUM(grp_toks)
                AS BIGINT) AS cache_hit_mass_micro
    FROM groups
    GROUP BY source
    ORDER BY source
    """,
)
def llm_prefix_cache_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV prefix-cache savings (SURVEY.md §2.12): group documents by
    their first PREFIX_TOKENS tokens (md5 digest — the first level of
    a RadixAttention prefix tree) and report, per source, how many
    prompt tokens a prefix-caching server would serve from cache —
    each group's prefix prefills once, every further member reuses
    it, so savings = Σ (group_size − 1) · prefix_len. The capacity-
    planning query run before provisioning a serving fleet: templated
    corpora (system prompts, boilerplate headers) show high cached
    mass, diverse corpora show none, and the per-source split says
    which.

    Exactness: whitespace token counts, md5 digests, exact integer
    token savings, floor-micro hit-mass share.

    Scale: one narrow projection (first tokens only — the full text
    never aggregates) + one groupBy on the digest + one source
    rollup, all map-side combinable. The real radix tree nests
    deeper levels; the first level is where the mass is and where
    the capacity answer lives.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.split("text", " ").alias("ws"))
    pfx = toks.select(
        "source",
        F.md5(
            F.array_join(
                F.slice("ws", 1, F.least(F.size("ws"), F.lit(PREFIX_TOKENS))),
                " ",
            )
        ).alias("prefix_digest"),
        F.least(F.size("ws"), F.lit(PREFIX_TOKENS)).cast("long").alias("pfx_len"),
        F.size("ws").cast("long").alias("n_toks"),
    )
    groups = pfx.groupBy("source", "prefix_digest", "pfx_len").agg(
        F.count("*").alias("grp_size"),
        F.sum("n_toks").cast("long").alias("grp_toks"),
    )
    return (
        groups.groupBy("source")
        .agg(
            F.count("*").alias("n_prefix_groups"),
            F.sum("grp_size").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("grp_size") > 1, F.col("grp_size")).otherwise(0))
            .cast("long")
            .alias("docs_in_shared_groups"),
            F.sum("grp_toks").cast("long").alias("total_tokens"),
            F.sum((F.col("grp_size") - 1) * F.col("pfx_len"))
            .cast("long")
            .alias("cached_tokens"),
            F.expr(
                "CAST((1000000 * SUM((grp_size - 1) * pfx_len)) "
                "DIV SUM(grp_toks) AS BIGINT)"
            ).alias("cache_hit_mass_micro"),
        )
        .orderBy("source")
    )
