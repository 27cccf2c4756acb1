"""LLM-corpus deduplication, contamination and retrieval (SURVEY.md
§2.12): near-duplicate clustering, URL, prefix, template, span, chunk and
shingle-containment dedup, MinHash and winnowing fingerprints,
train/test decontamination, and the retrieval rankers (MMR, reciprocal
rank fusion, MRR) that read the same shingle digests. The exact-hash,
n-gram Jaccard, SimHash and similarity-search keys stay in ``llm.py``,
which also holds the helpers both modules share.

Provenance note (SURVEY.md §0): the reference repository was empty when
these keys were written, so no file:line citations into it are
possible. The patterns are public knowledge — MinHash and containment
(Broder 1997), winnowing (Schleimer, Wilkerson, Aiken 2003, the MOSS
algorithm), exact-substring and line-level dedup (Lee et al. 2022, C4),
content-defined chunking (LBFS), n-gram decontamination, maximal
marginal relevance (Carbonell & Goldstein 1998) and reciprocal rank
fusion (Cormack et al. 2009) — re-expressed on the public PySpark
DataFrame API over the driver's testdata.

One builder per relation: the word 5-gram digest sets (``doc_digests``,
width ``SHINGLE_N``) feed the pair table of the Jaccard and containment
keys (``digest_pairs``), the source overlap matrix and both retrieval
legs; the hash-sampled queries, their exact-cosine ranking and their
shingle overlap (``_retrieval_queries``, ``_dense_ranks``,
``_query_overlap``) are built once for RRF and MRR.

Hash-parity discipline: digests are md5, set sizes and overlaps are
exact integers, similarities fold as floor-micro divisions, and cosines
are ROUND(·, 6) on both engines.

Scale posture (SURVEY.md §7.6): pairs come from equi-joins on a digest,
band bucket, block key or fingerprint, so their count is bounded by true
overlap; no key here generates all pairs of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.functions.vector import cosine_similarity, dot, norm
from classification_problem_with_pyspark_spark.operators.llm import (
    jaccard_pairs,
    jaccard_pairs_sql,
    split_bucket,
)
from classification_problem_with_pyspark_spark.plans.components import min_label_components
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows

SHINGLE_N = 5  # word-shingle width of every digest set here


def shingle_digests(d: DataFrame, key: str) -> DataFrame:
    """(key, digest): the md5 of every word ``SHINGLE_N``-gram of
    ``d.text``, one row per occurrence. ``d`` is spread first: the
    documents file is one input partition (single-file trap, BASELINE.md)."""
    return word_ngrams(spread(d, "doc_id"), SHINGLE_N, key).select(
        key, F.md5("ngram").alias("digest")
    )


def doc_digests(d: DataFrame) -> DataFrame:
    """(doc_id, digest): each document's distinct shingle digests."""
    return shingle_digests(d, "doc_id").distinct()


def _shingles_sql(key: str) -> str:
    """The oracle twin of the distinct ``shingle_digests(d, key)``: the body
    of a ``shingles`` CTE over ``toks(key, ws)``."""
    return f"""SELECT DISTINCT {key},
               md5(array_to_string(ws[i:i+{SHINGLE_N - 1}], ' ')) AS digest
        FROM toks,
             LATERAL (SELECT unnest(range(1, len(ws) - {SHINGLE_N - 1} + 1)) AS i)
        WHERE len(ws) >= {SHINGLE_N}"""


def digest_pairs(shingles: DataFrame) -> DataFrame:
    """(lo, hi, shared, na, nb) for every document pair lo < hi that shares
    a digest: the shared-digest count and both digest-set sizes. The pair
    table comes from the digest inverted-index join, so it is bounded by
    true overlap, never all pairs."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_digests"))
    a = shingles.select(F.col("doc_id").alias("lo"), "digest")
    b = shingles.select(F.col("doc_id").alias("hi"), "digest")
    pairs = (
        a.join(b, "digest")
        .where(F.col("lo") < F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("lo"), F.col("n_digests").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("hi"), F.col("n_digests").alias("nb"))
    return pairs.join(sa, "lo").join(sb, "hi")


@register(
    "llm_dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE {jaccard_pairs_sql("pairs")}, edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach AS (
        SELECT doc_id AS id, doc_id AS root FROM documents
        UNION
        SELECT e.dst AS id, r.root FROM reach r JOIN edges e ON e.src = r.id
    ), clusters AS (
        SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id
    )
    SELECT c.doc_id, c.cluster_id, s.cluster_size,
           c.doc_id = c.cluster_id AS is_canonical
    FROM clusters c
    JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
          FROM clusters GROUP BY cluster_id) s USING (cluster_id)
    """,
)
def llm_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the Jaccard ≥ 0.8
    pair graph, so transitively-linked duplicates (A~B, B~C but A≁C)
    collapse into ONE cluster — pairwise dedup alone over-keeps. Each doc
    gets cluster_id = min doc_id in its component (the canonical keeper),
    plus the cluster size; singletons are their own cluster.

    Algorithm: min-label propagation (plans/components.py), which needs
    as many rounds as the widest component's diameter. At 100 TB the
    round count stays bounded because near-dup components are
    tiny-diameter by construction; past the cap the key raises.

    Oracle: DuckDB recursive CTE propagating roots over the symmetrized
    edge set; MIN(root) per node is exactly the component minimum.
    """
    pairs = jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    ids = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    # 25 rounds: far above the diameter of a near-dup component
    labels = min_label_components(edges, ids, 25, "llm_dedup_cluster_cc")

    clusters = labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return clusters.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


@register(
    "llm_dedup_url_canonical",
    oracle="""
    WITH pages AS (
        SELECT doc_id, source,
               'https://WWW.' || source || '.Example.COM/p/' ||
               CAST(doc_id % 40 AS VARCHAR) ||
               CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
               '?utm_source=feed&ref=' || CAST(doc_id % 4 AS VARCHAR) ||
               '&utm_campaign=x&id=' || CAST(doc_id % 5 AS VARCHAR) AS url
        FROM documents
    ), canon AS (
        SELECT doc_id, source,
               regexp_replace(lower(regexp_extract(url, '^https?://([^/?]+)', 1)),
                              '^www\\.', '')
               || regexp_replace(regexp_extract(url, '^https?://[^/?]+([^?]*)', 1),
                                 '/$', '')
               || '?' ||
               array_to_string(
                   list_sort(list_filter(string_split(regexp_extract(url, '\\?(.*)$', 1), '&'),
                                         p -> NOT starts_with(p, 'utm_'))),
                   '&') AS canonical_url
        FROM pages
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_dupes,
           CAST(min(doc_id) AS BIGINT) AS survivor_doc_id,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM canon GROUP BY canonical_url
    HAVING count(*) > 1
    ORDER BY canonical_url
    """,
)
def llm_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup (SURVEY.md §2.12), the first pass of
    every web-corpus pipeline: synthesize a deterministic raw URL per
    document (mixed-case host, www prefix, optional trailing slash,
    interleaved utm_* tracking parameters), then canonicalize —
    lowercase host, strip `www.`, strip the trailing slash, DROP utm_*
    parameters, and SORT the surviving query parameters — and group
    pages whose canonical form collides. Emits each duplicate group
    with its size, min-doc_id survivor, and source spread.

    The canonicalization is pure string algebra (regexp_extract/replace
    + array filter/sort/join) with identical semantics in Spark and
    DuckDB, so the full canonical string hash-checks. The synthetic URL
    layer exists because the corpus carries no real URLs; the
    canonicalizer itself is the real operator (same regex rules crawler
    dedup uses).

    Scale: one groupBy on the canonical URL — at 100 TB hash the
    canonical form to 128 bits first so only digests shuffle (the
    llm_dedup_exact_hash discipline).
    """
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW."),
        F.col("source"),
        F.lit(".Example.COM/p/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&ref="),
        (F.col("doc_id") % 4).cast("string"),
        F.lit("&utm_campaign=x&id="),
        (F.col("doc_id") % 5).cast("string"),
    )
    pages = d.select("doc_id", "source", url.alias("url"))
    host = F.regexp_replace(
        F.lower(F.regexp_extract("url", r"^https?://([^/?]+)", 1)), r"^www\.", ""
    )
    path = F.regexp_replace(
        F.regexp_extract("url", r"^https?://[^/?]+([^?]*)", 1), r"/$", ""
    )
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract("url", r"\?(.*)$", 1), "&"),
                lambda p: ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    canon = pages.select(
        "doc_id",
        "source",
        F.concat(host, path, F.lit("?"), params).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_dupes"),
            F.min("doc_id").alias("survivor_doc_id"),
            F.countDistinct("source").alias("n_sources"),
        )
        .where(F.col("n_dupes") > 1)
        .orderBy("canonical_url")
    )


CONT_THRESHOLD_MICRO = 500_000  # report pairs with containment >= 0.5


@register(
    "llm_containment_dedup",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    shingles AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(ws[i:i+{SHINGLE_N - 1}], ' ')) AS digest
        FROM toks,
             LATERAL (SELECT unnest(range(1, len(ws) - {SHINGLE_N - 1} + 1))
                      AS i)
        WHERE len(ws) >= {SHINGLE_N}
    ),
    sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_digests
        FROM shingles GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS lo, b.doc_id AS hi,
               CAST(count(*) AS BIGINT) AS shared
        FROM shingles a JOIN shingles b
          ON b.digest = a.digest AND b.doc_id > a.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    oriented AS (
        SELECT CASE WHEN sa.n_digests < sb.n_digests
                      OR (sa.n_digests = sb.n_digests AND p.lo < p.hi)
                    THEN p.lo ELSE p.hi END AS small_doc,
               CASE WHEN sa.n_digests < sb.n_digests
                      OR (sa.n_digests = sb.n_digests AND p.lo < p.hi)
                    THEN p.hi ELSE p.lo END AS big_doc,
               least(sa.n_digests, sb.n_digests) AS n_small,
               greatest(sa.n_digests, sb.n_digests) AS n_big,
               p.shared
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.lo
        JOIN sizes sb ON sb.doc_id = p.hi
    )
    SELECT small_doc, big_doc, n_small, n_big, shared,
           CAST((1000000 * shared) // n_small AS BIGINT)
               AS containment_micro,
           (1000000 * shared) // n_small = 1000000 AS fully_contained
    FROM oriented
    WHERE (1000000 * shared) // n_small >= {CONT_THRESHOLD_MICRO}
    ORDER BY small_doc, big_doc
    """,
)
def llm_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup (SURVEY.md §2.12): |A∩B|/min(|A|,|B|) over
    5-gram shingle sets — Broder's containment, the asymmetric measure
    that flags a document swallowed whole by a larger one (boilerplate
    quotes, mirrored sections, prompt-in-completion leakage) where
    Jaccard dilutes toward 0 as the host grows. Pairs oriented
    (small ⊆? big) with the exact digest counts, floor-micro score,
    and a fully-contained flag; only pairs ≥ {CONT_THRESHOLD_MICRO}
    micro surface.

    Exactness: digest-set sizes and overlaps are exact integers; the
    orientation tie-break (equal sizes → lower doc_id as small) is a
    total order; the score is one truncating division.

    Scale: the pair table comes from the digest inverted-index join —
    bounded by true overlap exactly like the Jaccard/minhash family,
    never all-pairs; orientation is a projection over that bounded
    relation.
    """
    pairs = digest_pairs(doc_digests(load(spark, sf_dir, "documents")))
    lo_is_small = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("lo") < F.col("hi"))
    )
    oriented = (
        pairs.select(
            F.when(lo_is_small, F.col("lo")).otherwise(F.col("hi")).alias(
                "small_doc"
            ),
            F.when(lo_is_small, F.col("hi")).otherwise(F.col("lo")).alias(
                "big_doc"
            ),
            F.least("na", "nb").cast("long").alias("n_small"),
            F.greatest("na", "nb").cast("long").alias("n_big"),
            F.col("shared").cast("long").alias("shared"),
        )
    )
    return (
        oriented.select(
            "small_doc",
            "big_doc",
            "n_small",
            "n_big",
            "shared",
            F.expr("CAST((1000000 * shared) DIV n_small AS BIGINT)").alias(
                "containment_micro"
            ),
            F.expr("(1000000 * shared) DIV n_small = 1000000").alias(
                "fully_contained"
            ),
        )
        .where(F.col("containment_micro") >= CONT_THRESHOLD_MICRO)
        .orderBy("small_doc", "big_doc")
    )


_MAXLONG = 9223372036854775807


@register(
    "llm_fingerprint_winnowing",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), shingles AS (
        SELECT doc_id, i,
               CAST(('0x' || substring(md5(array_to_string(w[i:i+3], ' ')), 1, 15))
                    AS UBIGINT)::BIGINT AS h
        FROM words, UNNEST(generate_series(1, greatest(1, len(w) - 3))) AS t(i)
    ), marked AS (
        SELECT doc_id, h,
               COALESCE(min(h) OVER (PARTITION BY doc_id ORDER BY i
                                     ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
                        9223372036854775807) AS prev_min,
               COALESCE(min(h) OVER (PARTITION BY doc_id ORDER BY i
                                     ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING),
                        9223372036854775807) AS next_min
        FROM shingles
    ), fp AS (
        SELECT DISTINCT doc_id, h FROM marked
        WHERE h <= prev_min AND h < next_min
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_fp
    FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 3
    ORDER BY doc_a, doc_b
    """,
)
def llm_fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-family fingerprint dedup (SURVEY.md §2.12), the MOSS
    idea: hash every 4-word shingle, keep only shingles whose hash is a
    LOCAL MINIMUM within a ±3-position window (≤ all preceding, < all
    following — the strict variant, deterministic without MOSS's
    per-window bookkeeping), then join documents on shared fingerprints
    and report pairs sharing ≥3. Because selection depends only on
    hash-order within a local window, two documents sharing a long
    passage select the SAME fingerprints from it regardless of where
    the passage sits — alignment-robust, unlike fixed-stride sampling.

    Complements the dedup family: minhash estimates global Jaccard,
    SimHash global cosine-ish distance; winnowing localizes — it fires
    on PARTIAL containment (a copied paragraph inside an otherwise
    unrelated doc), the plagiarism/boilerplate case. At sf0.01: 3 880
    of 25 665 shingles selected (~15% density), 24 pairs at the ≥3
    threshold.

    Scale: only (doc_id, 8-byte fingerprint) pairs shuffle; the
    pair-generating join is an equi-join on the fingerprint (bucketed,
    never all-pairs); hot boilerplate fingerprints get a frequency cap
    before pairing, the mega-bucket rule every LSH key here follows.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    words = F.split(F.col("text"), " ")
    shingles = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.lit(1), F.size(words) - 3)
                ),
                lambda i: md5_long(F.array_join(F.slice(words, i, 4), " ")),
            )
        ).alias("i", "h"),
    )
    wprev = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-3, -1)
    wnext = Window.partitionBy("doc_id").orderBy("i").rowsBetween(1, 3)
    marked = shingles.select(
        "doc_id",
        "h",
        F.coalesce(F.min("h").over(wprev), F.lit(_MAXLONG)).alias("prev_min"),
        F.coalesce(F.min("h").over(wnext), F.lit(_MAXLONG)).alias("next_min"),
    )
    fp = (
        marked.where(
            (F.col("h") <= F.col("prev_min")) & (F.col("h") < F.col("next_min"))
        )
        .select("doc_id", "h")
        .distinct()
    )
    a = fp.select(F.col("doc_id").alias("doc_a"), "h")
    b = fp.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fp"))
        .where(F.col("shared_fp") >= 3)
        .orderBy("doc_a", "doc_b")
    )


def _minhash_term_hash(seed: int, start: int = 1):
    """Portable 60-bit token hash of "<seed>_<term>" (``md5_long``), read
    from hex digit ``start``; both MinHash ops key on it."""
    return md5_long(F.concat_ws("_", F.lit(str(seed)), F.col("term")), start=start)


@register(
    "llm_minhash_signatures",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents
    )
    SELECT doc_id,
           MIN(CAST(('0x' || substr(md5('0_' || term), 1, 15)) AS BIGINT)) AS sig0,
           MIN(CAST(('0x' || substr(md5('1_' || term), 1, 15)) AS BIGINT)) AS sig1,
           MIN(CAST(('0x' || substr(md5('2_' || term), 1, 15)) AS BIGINT)) AS sig2,
           MIN(CAST(('0x' || substr(md5('3_' || term), 1, 15)) AS BIGINT)) AS sig3
    FROM tok GROUP BY doc_id
    """,
)
def llm_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-permutation MinHash signature per document: min of
    an md5-derived 60-bit hash of each distinct token, one column per
    seed. Unlike MLlib's MinHashLSH (engine-private random coefficients,
    rows-only check), this signature is portable and ORACLE-CHECKED —
    sig equality estimates Jaccard similarity exactly as in the
    Broder sketch.

    Explode distinct tokens once, aggregate 4 mins in one map-side-partial
    groupBy: the shuffle carries 4 longs per doc at any corpus size, and
    banding for LSH is a groupBy over (sig_band) downstream.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )
    return tok.groupBy("doc_id").agg(
        *[F.min(_minhash_term_hash(s)).alias(f"sig{s}") for s in range(4)]
    )


@register(
    "llm_dedup_minhash_banded",
    oracle="""
    WITH tok AS (
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
    )
    SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b ON a.s0 = b.s0 AND a.s1 = b.s1 AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b ON a.s2 = b.s2 AND a.s3 = b.s3 AND a.doc_id < b.doc_id
    ) pairs
    """,
)
def llm_dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash LSH candidate pairs, fully deterministic and
    ORACLE-CHECKED: 3-token shingles -> 4 portable md5 min-hashes per doc
    -> 2 bands of 2 rows -> docs sharing a band bucket become candidate
    pairs. This is the real LSH shape (candidates from bucket
    EQUI-JOINS, never an all-pairs product) with none of MLlib's private
    randomness.

    Scale: the signature agg is map-side partial (4 longs/doc); the band
    join is ONE equi-join on (band, h1, h2) over band-exploded signature
    rows (both sides share the partitioning, so Spark reuses the
    exchange), and cost follows bucket sizes — on adversarial data you'd
    cap/salt hot buckets, here 3-shingles over the corpus vocabulary keep
    buckets tiny (measured: 27 pairs at sf0.01, 469 at sf0.1 — vs
    80k/7.7M with unigram shingles, which saturate the sketch). Each md5
    yields TWO independent 60-bit hashes (hex chars 1-15 and 16-30), so
    the dominant md5 cost is half of a hash-per-row scheme; the explicit
    repartition spreads the shingle+md5 map work across all cores even
    when the input is one small file (a 100-TB input is already
    many-partition, so the repartition is a no-op there by count).
    A document of fewer than 3 tokens has no shingle and no signature,
    as in the oracle's token self-join.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    sh = word_ngrams(docs, 3, "doc_id").withColumnRenamed("ngram", "term")

    sig = sh.groupBy("doc_id").agg(
        F.min(_minhash_term_hash(0)).alias("s0"),
        F.min(_minhash_term_hash(0, 16)).alias("s1"),
        F.min(_minhash_term_hash(1)).alias("s2"),
        F.min(_minhash_term_hash(1, 16)).alias("s3"),
    )
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band"),
                    F.col("s0").alias("h1"),
                    F.col("s1").alias("h2"),
                ),
                F.struct(
                    F.lit(1).alias("band"),
                    F.col("s2").alias("h1"),
                    F.col("s3").alias("h2"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.h1", "bk.h2")
    # shuffle_hash (not broadcast): both sides are the same fact-sized
    # signature pipeline; a broadcast would serialize the whole pipeline
    # into the build side AND compute it twice (measured 3.5 s vs 0.97 s
    # at sf0.1), while the shuffle join lets AQE reuse one exchange —
    # and at 100 TB the signature side could never broadcast anyway.
    a, b = banded.alias("a"), banded.alias("b").hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.h2") == F.col("b.h2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


K_SPAN = 8  # tokens per span shingle (Lee et al. use 50 BPE tokens at


def _span_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All K_SPAN-token shingles, one row per occurrence (docs shorter
    than K_SPAN tokens carry no spans and drop out, same WHERE on both
    engines)."""
    d = load(spark, sf_dir, "documents")
    return word_ngrams(d, K_SPAN, "doc_id").withColumnRenamed("ngram", "shingle")


_SPAN_SH_SQL = f"""
    base AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= {K_SPAN}
    ),
    sh AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, i, i + {K_SPAN - 1}), ' ') AS shingle
        FROM (
            SELECT doc_id, toks,
                   unnest(range(1, len(toks) - {K_SPAN - 2})) AS i
            FROM base
        ) x
    )
"""


@register(
    "llm_span_dedup_coverage",
    oracle=f"""
    WITH {_SPAN_SH_SQL},
    docsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    nd AS (
        SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
        FROM docsh GROUP BY shingle
    )
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN n.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_spans,
           CAST(floor(1000000.0 * SUM(CASE WHEN n.n_docs >= 2 THEN 1 ELSE 0 END)
                      / count(*)) AS BIGINT) AS shared_micro,
           5 * SUM(CASE WHEN n.n_docs >= 2 THEN 1 ELSE 0 END) >= count(*)
               AS is_span_dup
    FROM docsh d JOIN nd n USING (shingle)
    GROUP BY d.doc_id
    """,
)
def llm_span_dedup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span coverage per document (SURVEY.md §2.12): the
    fraction of a doc's distinct 8-token spans that also occur verbatim
    in at least one OTHER document — the per-doc view of exact-substring
    dedup (Lee et al. 2022), where the span, not the document, is the
    duplication unit. Docs crossing 20% shared-span coverage are flagged
    with the exact integer form 5·shared >= total (no float threshold).

    Spark shape: spans built JVM-side by `word_ngrams` (no Python
    boundary); ONE map-side-combinable groupBy over
    distinct (doc, span) pairs computes span document-frequency; the
    join back is span-keyed. At 100 TB the join/groupBy key would be
    xxhash64(span) instead of the span string (same plan, ~10× less
    shuffle) — string form keeps the oracle byte-identical here.
    """
    docsh = _span_shingles(spark, sf_dir).distinct()
    nd = docsh.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    shared = (F.col("n_docs") >= 2).cast("long")
    return (
        docsh.join(nd, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(shared).alias("n_shared_spans"),
            F.floor(1000000.0 * F.sum(shared) / F.count("*"))
            .cast("long")
            .alias("shared_micro"),
            (5 * F.sum(shared) >= F.count("*")).alias("is_span_dup"),
        )
    )


@register(
    "llm_span_hot_spans",
    oracle=f"""
    WITH {_SPAN_SH_SQL}
    SELECT shingle,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM sh GROUP BY shingle
    HAVING count(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, shingle
    LIMIT 100
    """,
)
def llm_span_hot_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global hot-span report (SURVEY.md §2.12): the top repeated
    8-token spans ranked by how many documents carry them — the
    candidate list an exact-substring dedup pass would cut (boilerplate
    headers, license blocks, template sentences). Orders by
    (n_docs, n_occurrences, shingle) so the limit is total-order
    deterministic (shingle is the unique key).

    Spark shape: one groupBy(span) with count + count(DISTINCT doc) —
    map-side partial on both; the top-100 is a TakeOrdered, never a
    global sort materialization.
    """
    sh = _span_shingles(spark, sf_dir)
    return (
        sh.groupBy("shingle")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "shingle")
        .limit(100)
    )


CDC_W = 8  # boundary-decision substring width (chars)
CDC_MASK = 64  # boundary probability 1/64 → ~64-char expected chunks

# Shared CTE chain producing chunks(doc_id, total_chars, chunk_len,
# chunk_hash) — also read by llm_shard_dedup_loss_audit, so the chunking
# definition lives in exactly one place.
CDC_CHUNKS_SQL = f"""
    pos AS (
        SELECT doc_id, length(text) AS total_chars, i,
               (CAST(('0x' || substr(md5(substr(text, i - {CDC_W - 1}, {CDC_W})),
                                     1, 15)) AS BIGINT) % {CDC_MASK} = 0
                OR i = length(text)) AS is_boundary
        FROM (
            SELECT doc_id, text, unnest(range({CDC_W}, length(text) + 1)) AS i
            FROM documents WHERE length(text) >= {CDC_W}
        ) x
    ),
    bounds AS (
        SELECT doc_id, total_chars, i,
               COALESCE(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS prev
        FROM pos WHERE is_boundary
    ),
    chunks AS (
        SELECT b.doc_id, b.total_chars,
               i - prev AS chunk_len,
               md5(substr(d.text, prev + 1, i - prev)) AS chunk_hash
        FROM bounds b JOIN documents d USING (doc_id)
    )
"""


def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, total_chars, chunk_len, chunk_hash) for every
    content-defined chunk — the shared pipeline behind
    llm_cdc_chunk_dedup and llm_shard_dedup_loss_audit."""
    # documents is one parquet file → one input partition; spread it
    # before the per-position explode + md5 (the heaviest per-row work in
    # the pack) so the scan parallelizes (single-file trap, BASELINE.md).
    d = spread(load(spark, sf_dir, "documents").where(F.length("text") >= CDC_W), "doc_id")
    pos = d.select(
        "doc_id",
        F.length("text").alias("total_chars"),
        F.explode(F.expr("sequence(8, length(text))")).alias("i"),
        F.col("text"),
    ).select(
        "doc_id",
        "total_chars",
        "i",
        (
            (md5_long(F.expr(f"substr(text, i - {CDC_W - 1}, {CDC_W})")) % CDC_MASK == 0)
            | (F.col("i") == F.col("total_chars"))
        ).alias("is_boundary"),
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    bounds = pos.where("is_boundary").select(
        "doc_id",
        "total_chars",
        "i",
        F.coalesce(F.lag("i").over(w), F.lit(0)).alias("prev"),
    )
    return bounds.join(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "total_chars",
        (F.col("i") - F.col("prev")).alias("chunk_len"),
        F.md5(F.expr("substr(text, prev + 1, i - prev)")).alias("chunk_hash"),
    )


@register(
    "llm_cdc_chunk_dedup",
    oracle=f"""
    WITH {CDC_CHUNKS_SQL},
    copies AS (
        SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_copies
        FROM chunks GROUP BY chunk_hash
    )
    SELECT c.doc_id,
           CAST(max(c.total_chars) AS BIGINT) AS total_chars,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN p.n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(SUM(CASE WHEN p.n_copies >= 2 THEN c.chunk_len ELSE 0 END)
                AS BIGINT) AS dup_chars,
           CAST((1000000 * SUM(CASE WHEN p.n_copies >= 2 THEN c.chunk_len
                                    ELSE 0 END)) // max(c.total_chars)
                AS BIGINT) AS dup_micro
    FROM chunks c JOIN copies p USING (chunk_hash)
    GROUP BY c.doc_id
    """,
)
def llm_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup report (SURVEY.md §2.12): each
    document split at content-derived boundaries (positions where the
    hash of the trailing 8 chars ≡ 0 mod 64 → ~64-char expected chunks),
    then every chunk hashed and matched across the corpus — the
    LBFS/restic recipe that keeps chunk boundaries STABLE under
    insertions (a fixed-size chunker shifts every boundary after an
    edit; a content-defined one re-localizes), which is what makes
    chunk-level dedup work on evolving corpora. Per doc: chunk count and
    the share of characters living in chunks duplicated anywhere else.

    Exactness: boundaries come from md5 of the literal substring (no
    rolling-hash register to keep in sync across engines); chunk
    reassembly is substr between consecutive boundary positions — the
    per-position explode only FINDS boundaries, chunks are never built
    from per-char rows; the dup share folds floor-micro over exact
    char counts.

    Scale: position fan-out is O(total bytes) with a tiny row payload
    (doc_id, int, bool) and collapses back to ~len/64 boundary rows
    before the window; chunk-hash matching is one map-side-combinable
    groupBy. At 100 TB the boundary scan runs as a mapInPandas rolling
    hash (true Rabin fingerprint) with identical boundary semantics.
    """
    chunks = cdc_chunks(spark, sf_dir)
    copies = chunks.groupBy("chunk_hash").agg(F.count("*").alias("n_copies"))
    dup = (F.col("n_copies") >= 2).cast("long")
    return chunks.join(copies, "chunk_hash").groupBy("doc_id").agg(
        F.max("total_chars").cast("long").alias("total_chars"),
        F.count("*").alias("n_chunks"),
        F.sum(dup).alias("n_dup_chunks"),
        F.sum(dup * F.col("chunk_len")).alias("dup_chars"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN n_copies >= 2 THEN chunk_len"
            " ELSE 0 END)) DIV max(total_chars) AS BIGINT)"
        ).alias("dup_micro"),
    )


N_SHARDS = 8  # dedup shard count for the loss audit


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


def _overlap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sa, sb, cnt) rows for the source-overlap matrix: sb NULL rows
    are per-source distinct-digest sizes, sb non-NULL rows are per-pair
    shared-digest counts — both emitted from ONE digest-grouped pass.

    r13 optimization (guide §2.4): the distinct per-source digest set
    used to feed THREE consumers (sizes + both self-join sides), so the
    explode+distinct pipeline ran three times and the overlap paid a
    digest-keyed self-join on top. One groupBy(digest) now aggregates
    each digest's (bounded, ≤|sources|) source set and a single explode
    emits both row kinds — the same integer counts by set algebra
    (collect_set dedups exactly as the old per-source distinct did; a
    digest containing sources {x, y} contributes 1 to the pair (x, y)
    just as the self-join counted it). The caller checkpoints the
    resulting ≤|sources|²-row relation (bounded; lazy). This is the
    whole pre-checkpoint pipeline, scan included, so the fan-out
    regression tripwire asserts the plan the key really runs (the
    LogicalRDD boundary hides it from the registered key's own explain
    output).
    """
    srcs_per_digest = (
        shingle_digests(load(spark, sf_dir, "documents"), "source")
        .groupBy("digest")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
    )
    return (
        srcs_per_digest.select(
            F.explode(
                F.concat(
                    F.transform(
                        "srcs",
                        lambda s: F.struct(
                            s.alias("sa"),
                            F.lit(None).cast("string").alias("sb"),
                        ),
                    ),
                    F.flatten(
                        F.transform(
                            "srcs",
                            lambda x, i: F.transform(
                                F.slice("srcs", i + F.lit(2), F.size("srcs")),
                                lambda y: F.struct(x.alias("sa"), y.alias("sb")),
                            ),
                        )
                    ),
                )
            ).alias("e")
        )
        .select("e.sa", "e.sb")
        .groupBy("sa", "sb")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "llm_source_overlap_matrix",
    oracle=f"""
    WITH toks AS (
        SELECT source, doc_id, string_split(text, ' ') AS ws
        FROM documents
    ),
    shingles AS (
        {_shingles_sql("source")}
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_digests
        FROM shingles GROUP BY source
    ),
    olap AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM shingles a JOIN shingles b
          ON a.digest = b.digest AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
           sa.n_digests AS n_a, sb.n_digests AS n_b,
           COALESCE(o.shared, 0) AS shared,
           CAST((1000000 * COALESCE(o.shared, 0))
                // (sa.n_digests + sb.n_digests - COALESCE(o.shared, 0))
                AS BIGINT) AS jaccard_micro
    FROM sizes sa JOIN sizes sb ON sa.source < sb.source
    LEFT JOIN olap o
           ON o.source_a = sa.source AND o.source_b = sb.source
    ORDER BY source_a, source_b
    """,
)
def llm_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-overlap matrix (SURVEY.md §2.11): for every
    pair of document sources, the number of SHARED distinct word
    5-gram digests and the resulting Jaccard similarity — the corpus
    forensics that answers "which of my crawl sources copy each
    other?" before any of them is allowed to double-count in a
    training mixture. Complements `llm_decontaminate` (train-vs-eval,
    one direction) with the full symmetric source×source view.

    Shingle sets are DISTINCT per source, so the overlap is honest set
    cardinality (a verbatim page duplicated 100× in one source still
    counts once); the matrix includes zero-overlap pairs (LEFT JOIN
    against the size table) because "no overlap" is the finding.

    Exactness: md5 digests, distinct counts, floor-micro Jaccard.

    Scale: per-source digest sets come from one explode+distinct pass;
    the pair counts are one equi-join ON THE DIGEST (hash join — never
    a text scan) whose output is bounded by true overlap, and the
    |sources|² closing join is over a tiny size table. This is the
    digest-set reuse pattern the whole dedup family shares.
    """
    counts = _overlap_counts(spark, sf_dir).localCheckpoint(eager=False)
    sizes = counts.where(F.col("sb").isNull()).select(
        F.col("sa").alias("source"), F.col("cnt").alias("n_digests")
    )
    overlaps = counts.where(F.col("sb").isNotNull()).select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("cnt").alias("shared"),
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_digests").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_digests").alias("n_b"))
    return (
        sa.crossJoin(sb)
        .where(F.col("source_a") < F.col("source_b"))
        .join(overlaps, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.coalesce("shared", F.lit(0)).cast("long").alias("shared"),
        )
        .withColumn(
            "jaccard_micro",
            F.expr(
                "CAST((1000000 * shared) DIV (n_a + n_b - shared) AS BIGINT)"
            ),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "llm_decontaminate",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks,
               CAST(('0x' || substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10 AS b
        FROM documents
    ),
    sh AS (
        SELECT doc_id, lang, b,
               array_to_string(list_slice(toks, i, i + 4), ' ') AS shingle
        FROM (
            SELECT doc_id, lang, b, toks,
                   unnest(range(1, greatest(len(toks) - 3, 1))) AS i
            FROM base
        ) x
    ),
    train_sh AS (SELECT DISTINCT shingle FROM sh WHERE b < 8),
    test_sh AS (SELECT doc_id, lang, shingle FROM sh WHERE b = 9)
    SELECT t.doc_id, t.lang,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           ROUND(CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS contamination_ratio,
           SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) * 10 >= COUNT(*)
               AS is_contaminated
    FROM test_sh t LEFT JOIN train_sh tr USING (shingle)
    GROUP BY t.doc_id, t.lang
    """,
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every TEST-split document, the share
    of its 5-token shingles that also appear anywhere in the TRAIN split
    (the n-gram-overlap decontamination check run before any benchmark
    eval on a trained model). Splits come from the same portable
    md5(doc_id) mod 10 assignment as `llm_split_hash` — the check is a
    pure function of the corpus, reproducible on any engine.

    Spark shape: shingles are built JVM-side by `word_ngrams` (no Python
    boundary, no self-join); a document of fewer than 5 tokens has none
    and drops out, as in the oracle. The only fact-sized shuffle is the
    shingle equi-join, with the train side pre-deduplicated. The
    contamination flag uses the exact integer form
    (10·hits >= total, i.e. ratio >= 0.1) — no float threshold. At 100 TB
    the join key would be a 64-bit hash of the shingle rather than the
    string (same plan, ~10× less shuffle traffic); the string form keeps
    the oracle byte-identical here.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    sh = word_ngrams(d.withColumn("b", split_bucket("doc_id")), 5, "doc_id", "lang", "b")
    train_sh = sh.where(F.col("b") < 8).select("ngram").distinct()
    test_sh = sh.where(F.col("b") == 9)
    hit = F.col("tr_shingle").isNotNull()
    joined = test_sh.join(
        train_sh.select(F.col("ngram").alias("tr_shingle")),
        test_sh.ngram == F.col("tr_shingle"),
        "left",
    )
    return joined.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_shingles"),
        F.sum(hit.cast("long")).alias("n_contaminated"),
        F.round(
            F.sum(hit.cast("long")).cast("double") / F.count("*"), 6
        ).alias("contamination_ratio"),
        (F.sum(hit.cast("long")) * 10 >= F.count("*")).alias("is_contaminated"),
    )


@register(
    "llm_decontaminate_semantic",
    oracle="""
    WITH b AS (
        SELECT vec_id, embedding,
               CAST(('0x' || substr(md5('split_' || CAST(vec_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10 AS bucket
        FROM embeddings
    ), test AS (
        SELECT vec_id, embedding FROM b WHERE bucket = 9
    ), train AS (
        SELECT vec_id, embedding FROM b WHERE bucket < 8
    )
    SELECT t.vec_id AS test_id,
           COUNT(*) AS n_train_neighbors,
           MAX(ROUND(list_cosine_similarity(
                   list_transform(t.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(tr.embedding, x -> CAST(x AS DOUBLE))), 6))
               AS max_cosine
    FROM test t JOIN train tr
      ON list_cosine_similarity(
             list_transform(t.embedding, x -> CAST(x AS DOUBLE)),
             list_transform(tr.embedding, x -> CAST(x AS DOUBLE))) >= 0.35
    GROUP BY t.vec_id
    """,
)
def llm_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (SURVEY.md §2.12): flag
    TEST-split documents whose embedding has a TRAIN-split neighbor at
    cosine ≥ 0.35 — the semantic complement of `llm_decontaminate`
    (which catches exact n-gram overlap; paraphrased contamination slips
    past shingles but not past embeddings).

    The split is the SAME portable md5 assignment as `llm_split_hash`
    (bucket 9 = test, <8 = train), so this audits exactly the split that
    key ships. Exact test×train cosine is the oracle-checkable baseline;
    its cost is |test|·|train| — at 100 TB the train side collapses to
    ANN candidates (`llm_similarity_ivf`/`_sharded` cells) feeding this
    same threshold+groupBy, and only the ~10% test slice scans fully.
    49 cross-split pairs ≈ 15 contaminated test docs at sf0.01.
    """
    e = load(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", split_bucket("vec_id").alias("bucket"))
    test = b.where(F.col("bucket") == 9).select(
        F.col("vec_id").alias("test_id"), F.col("embedding").alias("emb_t")
    )
    train = b.where(F.col("bucket") < 8).select(
        F.col("vec_id").alias("train_id"), F.col("embedding").alias("emb_r")
    )
    cos = cosine_similarity(F.col("emb_t"), F.col("emb_r"))
    return (
        spread(test)
        .crossJoin(F.broadcast(train))
        .where(cos >= 0.35)
        .groupBy("test_id")
        .agg(
            F.count("*").alias("n_train_neighbors"),
            F.max(F.round(cos, 6)).alias("max_cosine"),
        )
    )


@register(
    "llm_cross_dedup_incremental",
    oracle="""
    WITH tagged AS (
        SELECT doc_id, md5(text) AS h,
               CAST(('0x' || substr(md5('incr_' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10 < 8 AS in_corpus
        FROM documents
    ), corpus AS (
        SELECT DISTINCT h FROM tagged WHERE in_corpus
    )
    SELECT CAST(SUM(CASE WHEN NOT t.in_corpus THEN 1 ELSE 0 END) AS BIGINT)
               AS n_incoming,
           CAST(SUM(CASE WHEN NOT t.in_corpus AND c.h IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_of_corpus,
           CAST(SUM(CASE WHEN NOT t.in_corpus AND c.h IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_new_unique,
           ROUND(CAST(SUM(CASE WHEN NOT t.in_corpus AND c.h IS NULL
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN NOT t.in_corpus THEN 1 ELSE 0 END), 6)
               AS novelty_rate
    FROM tagged t LEFT JOIN corpus c ON t.h = c.h
    """,
)
def llm_cross_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: an incoming batch (hash-split 20% of
    documents) checked against the existing corpus (the other 80%) by
    content hash — the every-ingest operation of a living corpus: how
    many incoming docs are already present, how many are new.

    The membership check is a digest-keyed LEFT JOIN (never shuffles
    text, same discipline as llm_dedup_exact_hash); at 100 TB the corpus
    side is the hash index, not the documents. One pass, exact integer
    counts.
    """
    d = load(spark, sf_dir, "documents")
    in_corpus = md5_long(F.concat(F.lit("incr_"), F.col("doc_id").cast("string"))) % 10 < 8
    tagged = d.select(F.md5("text").alias("h"), in_corpus.alias("in_corpus"))
    corpus = tagged.where("in_corpus").select("h").distinct()
    c = corpus.withColumn("known", F.lit(True))
    joined = tagged.join(c, "h", "left")
    incoming = (~F.col("in_corpus")).cast("long")
    dup = ((~F.col("in_corpus")) & F.col("known").isNotNull()).cast("long")
    new = ((~F.col("in_corpus")) & F.col("known").isNull()).cast("long")
    return joined.agg(
        F.sum(incoming).alias("n_incoming"),
        F.sum(dup).alias("n_dup_of_corpus"),
        F.sum(new).alias("n_new_unique"),
        F.round(F.sum(new).cast("double") / F.sum(incoming), 6).alias("novelty_rate"),
    )


@register(
    "llm_template_boilerplate_groups",
    oracle="""
    WITH normalized AS (
        SELECT doc_id,
               md5(regexp_replace(regexp_replace(lower(text), '[0-9]+', '#', 'g'),
                                  ' +', ' ', 'g')) AS shape_hash
        FROM documents
    ), groups AS (
        SELECT shape_hash,
               COUNT(*) AS n_docs,
               MIN(doc_id) AS exemplar_doc_id
        FROM normalized GROUP BY shape_hash
    )
    SELECT shape_hash, n_docs, exemplar_doc_id
    FROM groups WHERE n_docs >= 2
    """,
)
def llm_template_boilerplate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection — the dedup class EXACT hashing
    misses: normalize the text's SHAPE (lowercase, digit runs → '#',
    whitespace collapsed) and group by the shape hash; groups of ≥2 are
    generated-from-a-template families (error pages, listings, form
    letters) that corpus cleaning caps or drops.

    Same scale posture as exact dedup: only the 16-byte shape digest
    shuffles, never text; normalization is two JVM regexes in codegen.
    """
    d = load(spark, sf_dir, "documents")
    shape = F.md5(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "#"), " +", " "
        )
    )
    return (
        d.select("doc_id", shape.alias("shape_hash"))
        .groupBy("shape_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("exemplar_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


@register(
    "llm_dedup_prefix_containment",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, text, length(text) AS n,
               substr(text, 1, 64) AS block
        FROM documents WHERE length(text) >= 64
    )
    SELECT a.doc_id AS shorter_doc, b.doc_id AS longer_doc,
           a.n AS shorter_len, b.n AS longer_len
    FROM keyed a JOIN keyed b
      ON a.block = b.block AND a.doc_id <> b.doc_id
    WHERE a.n <= b.n
      AND NOT (a.n = b.n AND a.doc_id > b.doc_id)
      AND substr(b.text, 1, a.n) = a.text
    """,
)
def llm_dedup_prefix_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation dedup: documents that are an exact PREFIX of a longer
    document (the duplicate class created by crawl truncation and
    re-scrapes, invisible to whole-text hashing). Candidate pairs are
    blocked on the first-64-char prefix (equal prefixes → same block, an
    equi-join on a digest-sized key), then verified by one substring
    compare — never an all-pairs scan. Equal-length ties pair once
    (smaller doc_id as 'shorter').

    At 100 TB the block key join is the same shape as exact dedup; block
    skew (a hugely common prefix) is the documented salting case.
    """
    d = load(spark, sf_dir, "documents").where(F.length("text") >= 64)
    keyed = d.select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        F.substring("text", 1, 64).alias("block"),
    )
    a = keyed.select(
        F.col("doc_id").alias("shorter_doc"),
        F.col("text").alias("text_a"),
        F.col("n").alias("shorter_len"),
        F.col("block").alias("block_a"),
    )
    b = keyed.select(
        F.col("doc_id").alias("longer_doc"),
        F.col("text").alias("text_b"),
        F.col("n").alias("longer_len"),
        F.col("block").alias("block_b"),
    )
    return (
        a.join(b, F.col("block_a") == F.col("block_b"))
        .where(F.col("shorter_doc") != F.col("longer_doc"))
        .where(F.col("shorter_len") <= F.col("longer_len"))
        .where(
            ~(
                (F.col("shorter_len") == F.col("longer_len"))
                & (F.col("shorter_doc") > F.col("longer_doc"))
            )
        )
        .where(
            F.expr("substring(text_b, 1, shorter_len)") == F.col("text_a")
        )
        .select("shorter_doc", "longer_doc", "shorter_len", "longer_len")
    )


THRESHOLDS_MICRO = (500_000, 600_000, 700_000, 800_000, 900_000)


@register(
    "llm_dedup_threshold_curve",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    shingles AS (
        {_shingles_sql("doc_id")}
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_digests
        FROM shingles GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS lo, b.doc_id AS hi,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM shingles a JOIN shingles b
          ON a.digest = b.digest AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    sims AS (
        SELECT p.lo, p.hi,
               (1000000 * p.shared)
                   // (sa.n_digests + sb.n_digests - p.shared) AS jac_micro
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.lo
        JOIN sizes sb ON sb.doc_id = p.hi
    ),
    thresholds AS (
        SELECT unnest([{", ".join(str(t) for t in THRESHOLDS_MICRO)}])
            AS thr_micro
    ),
    n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT t.thr_micro,
           CAST(COUNT(s.lo) AS BIGINT) AS n_dup_pairs,
           CAST(COUNT(DISTINCT s.hi) AS BIGINT) AS n_docs_removed,
           CAST(d.n - COUNT(DISTINCT s.hi) AS BIGINT) AS n_survivors
    FROM thresholds t
    CROSS JOIN n_docs d
    LEFT JOIN sims s ON s.jac_micro >= t.thr_micro
    GROUP BY t.thr_micro, d.n
    ORDER BY t.thr_micro
    """,
)
def llm_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-sensitivity curve (SURVEY.md §2.12): corpus
    survivor counts at five Jaccard thresholds over ONE materialized
    pair-similarity table — the tuning sweep run before committing a
    near-dup threshold, because yield is threshold-sensitive and the
    keep-lowest-id removal rule ("remove the higher doc of every
    flagged pair") makes the cost of each candidate cut visible as a
    single row. Monotonicity (higher threshold ⇒ fewer removals) is
    the asserted shape.

    Similarities are exact floor-micro Jaccard over distinct 5-gram
    digest sets (``doc_digests``, ``digest_pairs``); the five curve
    points read the SAME pair table via a broadcast threshold spine —
    similarity is computed once, which is the entire economics of threshold
    sweeps at corpus scale.

    Scale: one digest hash join bounded by true overlap + a 5-row
    spine join. Re-running dedup per candidate threshold — the naive
    sweep — costs 5× the pair build for identical output.
    """
    d = load(spark, sf_dir, "documents")
    sims = digest_pairs(doc_digests(d)).select(
        "lo",
        "hi",
        F.expr("(1000000 * shared) DIV (na + nb - shared)").alias("jac_micro"),
    )
    thresholds = local_rows(spark, [(t,) for t in THRESHOLDS_MICRO], "thr_micro long")
    n_docs = d.agg(F.count("*").alias("n"))
    return (
        F.broadcast(thresholds)
        .crossJoin(F.broadcast(n_docs))
        .join(sims, sims.jac_micro >= F.col("thr_micro"), "left")
        .groupBy("thr_micro", "n")
        .agg(
            F.count("lo").alias("n_dup_pairs"),
            F.countDistinct("hi").alias("n_docs_removed"),
        )
        .select(
            "thr_micro",
            "n_dup_pairs",
            "n_docs_removed",
            (F.col("n") - F.col("n_docs_removed")).cast("long").alias("n_survivors"),
        )
        .orderBy("thr_micro")
    )


@register(
    "llm_line_dedup",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT) AS nc
        FROM documents
    ), chunked AS (
        SELECT doc_id, nc, i AS chunk_idx,
               array_to_string(w[(i*10+1):(i*10+10)], ' ') AS chunk
        FROM base, UNNEST(generate_series(0, nc - 1)) AS t(i)
    ), freq AS (
        SELECT chunk, COUNT(*) AS cnt FROM chunked GROUP BY chunk
    ), kept AS (
        SELECT c.doc_id, c.chunk_idx, c.chunk
        FROM chunked c JOIN freq f USING (chunk)
        WHERE f.cnt = 1
    ), rebuilt AS (
        SELECT doc_id, COUNT(*) AS n_chunks_kept,
               string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, b.nc AS n_chunks_total,
           COALESCE(r.n_chunks_kept, 0) AS n_chunks_kept,
           COALESCE(r.clean_text, '') AS clean_text
    FROM base b LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def llm_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-window removal (SURVEY.md §2.12): split every
    document into consecutive 10-word windows ("lines" for this corpus —
    the testdata has no newlines), drop every window whose exact text
    occurs more than once ANYWHERE in the corpus, and rebuild each
    document from its surviving windows in order.

    This is the line-level dedup of C4/RefinedWeb: boilerplate and
    near-dup passages vanish without dropping whole documents (278 of
    2 949 windows are corpus-duplicates at sf0.01). Scale shape: only
    10-word chunks shuffle (groupBy chunk for the global frequency, then
    one chunk-keyed join back and one doc-keyed rebuild groupBy) — full
    texts never leave their partition; at 100 TB hash each chunk to 64
    bits for the frequency pass (same plan, ~6× less shuffle traffic).
    Deterministic end-to-end (exact string equality, integer positions),
    so the full rebuilt text hash-checks against the oracle.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    words = F.split(F.col("text"), " ")
    base = d.select(
        "doc_id",
        words.alias("w"),
        F.ceil(F.size(words) / F.lit(10.0)).cast("long").alias("nc"),
    )
    chunked = base.select(
        "doc_id",
        "nc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.col("nc") - 1),
                lambda i: F.array_join(F.slice("w", i * 10 + 1, 10), " "),
            )
        ).alias("chunk_idx", "chunk"),
    )
    freq = chunked.groupBy("chunk").agg(F.count("*").alias("cnt"))
    kept = (
        chunked.join(freq, "chunk")
        .where(F.col("cnt") == 1)
        .select("doc_id", "chunk_idx", "chunk")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select("doc_id", F.col("nc").alias("n_chunks_total"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks_total",
            F.coalesce(F.col("n_chunks_kept"), F.lit(0).cast("long")).alias(
                "n_chunks_kept"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


MMR_QUERY_MOD = 100  # ~|vectors|/100 hash-chosen queries
MMR_POOL = 20  # relevance pool fed to the greedy
MMR_K = 5  # diversified picks per query
# λ = 0.7 as integer tenths: score10 = 7·sim_q − 3·max_sim_selected
MMR_LAMBDA10 = 7

_MMR_BASE_SQL = f"""
    qs AS (
        SELECT vec_id AS qid, embedding AS q_emb FROM embeddings
        WHERE CAST(('0x' || substr(md5('mmrq_' || CAST(vec_id AS VARCHAR)),
                                   1, 15)) AS BIGINT) % {MMR_QUERY_MOD} = 0
    ),
    scored AS (
        SELECT q.qid, c.vec_id AS cand,
               CAST(round(1000000 * list_cosine_similarity(
                   list_transform(q.q_emb, x -> CAST(x AS DOUBLE)),
                   list_transform(c.embedding, x -> CAST(x AS DOUBLE))))
                   AS BIGINT) AS simq_micro,
               row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY CAST(round(1000000 * list_cosine_similarity(
                       list_transform(q.q_emb, x -> CAST(x AS DOUBLE)),
                       list_transform(c.embedding, x -> CAST(x AS DOUBLE))))
                       AS BIGINT) DESC, c.vec_id) AS rnk
        FROM qs q JOIN embeddings c ON c.vec_id <> q.qid
    ),
    pool AS MATERIALIZED (
        SELECT qid, cand, simq_micro FROM scored WHERE rnk <= {MMR_POOL}),
    pp AS MATERIALIZED (
        SELECT a.qid, a.cand AS ca, b.cand AS cb,
               CAST(round(1000000 * list_cosine_similarity(
                   list_transform(ea.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(eb.embedding, x -> CAST(x AS DOUBLE))))
                   AS BIGINT) AS sim_micro
        FROM pool a
        JOIN pool b ON b.qid = a.qid AND b.cand <> a.cand
        JOIN embeddings ea ON ea.vec_id = a.cand
        JOIN embeddings eb ON eb.vec_id = b.cand
    )
"""


def _mmr_round_sql(i: int) -> str:
    """CTE pair (score_i, sel_i): pick #{i} by the MMR objective."""
    prev_sel = " UNION ALL ".join(f"SELECT * FROM sel_{j}" for j in range(1, i))
    return f"""
    score_{i} AS (
        SELECT p.qid, p.cand, p.simq_micro,
               {MMR_LAMBDA10} * p.simq_micro
                 - {10 - MMR_LAMBDA10} * COALESCE((
                       SELECT max(pp.sim_micro) FROM pp, ({prev_sel}) s
                       WHERE pp.qid = p.qid AND pp.ca = p.cand
                         AND pp.cb = s.cand AND s.qid = p.qid), 0)
                   AS score10
        FROM pool p
        WHERE NOT EXISTS (SELECT 1 FROM ({prev_sel}) s
                          WHERE s.qid = p.qid AND s.cand = p.cand)
    ),
    sel_{i} AS MATERIALIZED (
        SELECT qid, cand, simq_micro, score10, {i} AS pick
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY score10 DESC, cand) AS rn FROM score_{i}) z
        WHERE rn = 1
    )"""


def _mmr_round1_sql() -> str:
    return f"""
    sel_1 AS MATERIALIZED (
        SELECT qid, cand, simq_micro,
               {MMR_LAMBDA10} * simq_micro AS score10, 1 AS pick
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY {MMR_LAMBDA10} * simq_micro DESC, cand) AS rn
              FROM pool) z
        WHERE rn = 1
    )"""


@register(
    "llm_mmr_diversified_topk",
    oracle="WITH "
    + _MMR_BASE_SQL
    + ","
    + _mmr_round1_sql()
    + ","
    + ",".join(_mmr_round_sql(i) for i in range(2, MMR_K + 1))
    + f"""
    SELECT qid, CAST(pick AS BIGINT) AS pick, cand, simq_micro, score10
    FROM ({" UNION ALL ".join(f"SELECT * FROM sel_{i}" for i in range(1, MMR_K + 1))}) u
    ORDER BY qid, pick
    """,
)
def llm_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-k retrieval (SURVEY.md §2.12): for each
    hash-sampled query, greedily pick {MMR_K} of the top-{MMR_POOL}
    relevance pool maximizing λ·sim(q,d) − (1−λ)·max sim(d, picked)
    with λ = 0.7 — Carbonell-Goldstein MMR, the reranker that stops a
    RAG context window from filling with five copies of the same
    passage. Output: (query, pick#, candidate, relevance, MMR score).

    Exactness: sims quantize to exact micro BEFORE comparison; the
    score is pure integer arithmetic in deci-units (7·simq −
    3·max_sel); every pick breaks ties by (score DESC, cand) — the
    greedy is a deterministic function of the integer sim table, and
    the {MMR_K} rounds are UNROLLED identically on both engines.

    Scale: relevance scoring is the |queries|×|corpus| pass (queries
    are the hash sample; ANN keys supply the pool at 100 TB); the
    greedy itself touches only {MMR_POOL}-row pools and their
    {MMR_POOL}² pair sims per query — bounded work per round, window
    argmax, no driver loop over data.
    """
    e = load(spark, sf_dir, "embeddings")
    qhash = md5_long(F.concat(F.lit("mmrq_"), F.col("vec_id").cast("string")))
    queries = (
        e.where(qhash % MMR_QUERY_MOD == 0)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
    )
    queries = spread(queries, "qid")
    cands = e.select(F.col("vec_id").alias("cand"), F.col("embedding").alias("c_emb"))
    simq = F.expr(
        "CAST(round(1000000 * (sim_raw)) AS BIGINT)"
    )
    scored = (
        queries.crossJoin(F.broadcast(cands))
        .where(F.col("cand") != F.col("qid"))
        .select(
            "qid",
            "cand",
            (
                dot(F.col("q_emb"), F.col("c_emb"))
                / (norm(F.col("q_emb")) * norm(F.col("c_emb")))
            ).alias("sim_raw"),
        )
        .select("qid", "cand", simq.alias("simq_micro"))
    )
    w_rel = Window.partitionBy("qid").orderBy(F.desc("simq_micro"), "cand")
    pool = (
        scored.withColumn("rnk", F.row_number().over(w_rel))
        .where(F.col("rnk") <= MMR_POOL)
        .select("qid", "cand", "simq_micro")
        .localCheckpoint(eager=True)  # scoring pass runs once, not per round
    )
    ea = e.select(F.col("vec_id").alias("ca"), F.col("embedding").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("cb"), F.col("embedding").alias("emb_b"))
    pa = pool.select("qid", F.col("cand").alias("ca"))
    pb = pool.select(F.col("qid").alias("qid_b"), F.col("cand").alias("cb"))
    pp = (
        pa.join(pb, (pa.qid == pb.qid_b) & (F.col("ca") != F.col("cb")))
        .join(F.broadcast(ea), "ca")
        .join(F.broadcast(eb), "cb")
        .withColumn(
            "pp_raw",
            dot(F.col("emb_a"), F.col("emb_b"))
            / (norm(F.col("emb_a")) * norm(F.col("emb_b"))),
        )
        .select(
            # fresh attribute id: pp descends from pool, so keeping pool's
            # qid would make the cogroup keys ambiguous (same-lineage)
            F.col("qid").alias("qid_p"),
            "ca",
            "cb",
            F.expr("CAST(round(1000000 * pp_raw) AS BIGINT)").alias("sim_micro"),
        )
    )

    # r12 optimization (guide §4.2): the greedy itself is a per-query
    # SEQUENTIAL fold over a BOUNDED pool (≤{MMR_POOL} candidates,
    # ≤{MMR_POOL}² integer pair sims), so the former {MMR_K} unrolled
    # distributed rounds — each a join + window + eager localCheckpoint,
    # 47 jobs total at sf0.1 — collapse into ONE cogrouped applyInPandas
    # pass: pool ⟂ pp cogrouped on qid, the greedy replayed per group in
    # plain integer Python (8.3 s → ~2 s; 47 jobs → ~6). Every sim is
    # quantized to exact micro BEFORE it crosses the Arrow boundary and
    # the score is pure int arithmetic (7·simq − 3·max_sel, ties by
    # (score DESC, cand)), so the picks are bit-identical to the unrolled
    # form and the DuckDB oracle (hash-verified). Work per group is
    # bounded by the pool, never the corpus — the same 100 TB posture as
    # the round-unrolled plan, minus its per-round shuffles.
    def _greedy(key, pool_pdf, pp_pdf):
        import pandas as pd

        qid = int(key[0])
        simq = dict(
            zip(pool_pdf["cand"].astype(int), pool_pdf["simq_micro"].astype(int))
        )
        pair = {}
        for ca, cb, s in zip(
            pp_pdf["ca"].astype(int), pp_pdf["cb"].astype(int),
            pp_pdf["sim_micro"].astype(int),
        ):
            pair[(ca, cb)] = s
        selected: list[int] = []
        out = []
        for pick in range(1, MMR_K + 1):
            best = None
            for cand, sq in simq.items():
                if cand in selected:
                    continue
                max_sel = max(
                    (pair[(cand, s)] for s in selected if (cand, s) in pair),
                    default=0,
                )
                score = MMR_LAMBDA10 * sq - (10 - MMR_LAMBDA10) * max_sel
                k = (-score, cand)
                if best is None or k < best[0]:
                    best = (k, cand, sq, score)
            if best is None:
                break
            selected.append(best[1])
            out.append((qid, pick, best[1], best[2], best[3]))
        return pd.DataFrame(
            out, columns=["qid", "pick", "cand", "simq_micro", "score10"]
        ).astype("int64")

    sel = (
        pool.groupBy("qid")
        .cogroup(pp.groupBy("qid_p"))
        .applyInPandas(
            _greedy,
            schema="qid long, pick long, cand long, simq_micro long, score10 long",
        )
    )
    return sel.orderBy("qid", "pick")


QUERY_MOD = 25  # ~|docs|/25 hash-chosen retrieval queries (RRF, MRR)
RRF_K = 60
RRF_TOP = 5


# the oracle twins of _retrieval_queries and _dense_ranks, as CTEs
_QUERIES_SQL = f"""queries AS (
        SELECT vec_id AS qid FROM embeddings
        WHERE CAST(('0x' || substr(md5('rrfq_' || CAST(vec_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % {QUERY_MOD} = 0
    )"""
_DENSE_SQL = """dense AS (
        SELECT q.qid, b.vec_id AS cand,
               row_number() OVER (PARTITION BY q.qid
                   ORDER BY ROUND(list_cosine_similarity(
                       list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6)
                       DESC, b.vec_id) AS rnk
        FROM queries q
        JOIN embeddings a ON a.vec_id = q.qid
        JOIN embeddings b ON b.vec_id <> q.qid
    )"""


def _retrieval_queries(e: DataFrame) -> DataFrame:
    """(qid, q_emb): the hash-sampled queries of the RRF and MRR keys,
    spread so the broadcast cross-score runs on all cores (embeddings is
    one parquet file → one input partition; single-file trap, BASELINE.md)."""
    qhash = md5_long(F.concat(F.lit("rrfq_"), F.col("vec_id").cast("string")))
    queries = e.where(qhash % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    return spread(queries, "qid")


def _dense_ranks(e: DataFrame, queries: DataFrame) -> DataFrame:
    """(qid, cand, rnk): every other vector ranked by ROUND-6 exact cosine
    to the query (DESC, ties by id) over a broadcast cross join."""
    cands = e.select(F.col("vec_id").alias("cand"), F.col("embedding").alias("c_emb"))
    sim = F.round(
        dot(F.col("q_emb"), F.col("c_emb"))
        / (norm(F.col("q_emb")) * norm(F.col("c_emb"))),
        6,
    )
    w_d = Window.partitionBy("qid").orderBy(F.desc("sim"), "cand")
    return (
        queries.crossJoin(F.broadcast(cands))
        .where(F.col("cand") != F.col("qid"))
        .select("qid", "cand", sim.alias("sim"))
        .select("qid", "cand", F.row_number().over(w_d).alias("rnk"))
    )


def _query_overlap(queries: DataFrame, shingles: DataFrame) -> DataFrame:
    """(qid, cand, shared): distinct shingle digests each other document
    shares with the query document — a digest join bounded by true overlap."""
    q_sh = queries.select("qid").join(
        shingles.select(F.col("doc_id").alias("qid"), "digest"), "qid"
    )
    return (
        q_sh.join(shingles.select(F.col("doc_id").alias("cand"), "digest"), "digest")
        .where(F.col("cand") != F.col("qid"))
        .groupBy("qid", "cand")
        .agg(F.count("*").alias("shared"))
    )


@register(
    "llm_rank_fusion_rrf",
    oracle=f"""
    WITH {_QUERIES_SQL},
    {_DENSE_SQL},
    toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    shingles AS (
        {_shingles_sql("doc_id")}
    ),
    sparse_pairs AS (
        SELECT q.qid, b.doc_id AS cand, CAST(COUNT(*) AS BIGINT) AS shared
        FROM queries q
        JOIN shingles a ON a.doc_id = q.qid
        JOIN shingles b ON b.digest = a.digest AND b.doc_id <> q.qid
        GROUP BY q.qid, b.doc_id
    ),
    sparse AS (
        SELECT qid, cand,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY shared DESC, cand) AS rnk
        FROM sparse_pairs
    ),
    fused AS (
        SELECT COALESCE(d.qid, s.qid) AS qid,
               COALESCE(d.cand, s.cand) AS cand,
               COALESCE(1000000 // ({RRF_K} + d.rnk), 0)
                   + COALESCE(1000000 // ({RRF_K} + s.rnk), 0) AS rrf_micro,
               COALESCE(d.rnk, -1) AS rank_dense,
               COALESCE(s.rnk, -1) AS rank_sparse
        FROM dense d
        FULL OUTER JOIN sparse s ON s.qid = d.qid AND s.cand = d.cand
    )
    SELECT qid, cand, CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(rank_dense AS BIGINT) AS rank_dense,
           CAST(rank_sparse AS BIGINT) AS rank_sparse,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY rrf_micro DESC, cand)
                   AS fused_rank
        FROM fused
    ) z
    WHERE fused_rank <= {RRF_TOP}
    ORDER BY qid, fused_rank
    """,
)
def llm_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion (SURVEY.md §2.12): fuse the DENSE ranker
    (exact cosine over embeddings — the hash-verified similarity
    discipline) with the SPARSE ranker (5-gram shingle overlap — the
    BM25 stand-in whose overlap counts are exact integers) via
    RRF(d) = Σᵣ 1/(60 + rankᵣ(d)), the Cormack et al. combiner that
    hybrid RAG stacks ship because it needs NO score calibration —
    only ranks — and beats either leg alone. Top-{RRF_TOP} fused per
    hash-sampled query, with both leg ranks alongside (−1 = absent
    from that leg; absents contribute zero, the stated convention).

    RRF terms fold as floor-micro 1e6//(60+rank) — identical integer
    divisions on both engines, summed; candidates surfaced by only
    one modality are the fusion's whole point and appear with one
    −1 leg.

    Scale: the dense leg scores |queries|×|candidates| (queries are
    the hash sample — fusion is a RERANKER, it never brute-forces
    the corpus); the sparse leg is a digest join bounded by true
    overlap; the fuse is a skinny per-query full-outer join. At
    100 TB both legs arrive as the top-k relations of their ANN /
    inverted-index services and ONLY this fuse runs here.
    """
    e = load(spark, sf_dir, "embeddings")
    queries = _retrieval_queries(e)
    dense = _dense_ranks(e, queries)
    sparse_pairs = _query_overlap(queries, doc_digests(load(spark, sf_dir, "documents")))
    w_s = Window.partitionBy("qid").orderBy(F.desc("shared"), "cand")
    sparse = sparse_pairs.select(
        "qid", "cand", F.row_number().over(w_s).alias("s_rnk")
    )
    fused = (
        dense.join(sparse, ["qid", "cand"], "full_outer")
        .select(
            "qid",
            "cand",
            (
                F.coalesce(F.expr(f"1000000 DIV ({RRF_K} + rnk)"), F.lit(0))
                + F.coalesce(F.expr(f"1000000 DIV ({RRF_K} + s_rnk)"), F.lit(0))
            ).alias("rrf_micro"),
            F.coalesce("rnk", F.lit(-1)).cast("long").alias("rank_dense"),
            F.coalesce("s_rnk", F.lit(-1)).cast("long").alias("rank_sparse"),
        )
    )
    w_f = Window.partitionBy("qid").orderBy(F.desc("rrf_micro"), "cand")
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f))
        .where(F.col("fused_rank") <= RRF_TOP)
        .select(
            "qid",
            "cand",
            F.col("rrf_micro").cast("long").alias("rrf_micro"),
            "rank_dense",
            "rank_sparse",
            F.col("fused_rank").cast("long").alias("fused_rank"),
        )
        .orderBy("qid", "fused_rank")
    )


@register(
    "llm_retrieval_mrr",
    oracle=f"""
    WITH {_QUERIES_SQL},
    toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    shingles AS (
        {_shingles_sql("doc_id")}
    ),
    relevant AS (  -- ground truth: the max-overlap candidate per query
        SELECT qid, cand FROM (
            SELECT q.qid, b.doc_id AS cand,
                   row_number() OVER (PARTITION BY q.qid
                       ORDER BY COUNT(*) DESC, b.doc_id) AS rk
            FROM queries q
            JOIN shingles a ON a.doc_id = q.qid
            JOIN shingles b ON b.digest = a.digest AND b.doc_id <> q.qid
            GROUP BY q.qid, b.doc_id
        ) z WHERE rk = 1
    ),
    {_DENSE_SQL}
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_queries,
        CAST(SUM(CASE WHEN d.rnk = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_rank1,
        CAST(SUM(CASE WHEN d.rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_top10,
        CAST(MAX(d.rnk) AS BIGINT) AS worst_rank,
        CAST(SUM(1000000 // d.rnk) // COUNT(*) AS BIGINT) AS mrr_micro
    FROM relevant r
    JOIN dense d ON d.qid = r.qid AND d.cand = r.cand
    """,
)
def llm_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval MRR (SURVEY.md §2.12): for each hash-sampled query,
    the ground-truth relevant item is its max-shingle-overlap
    neighbor (exact set algebra, ties by id) and the system under
    test is the exact-cosine dense retriever; MRR = floor-mean of
    floor-micro reciprocal ranks of the relevant item, with hit@1,
    hit@10, and the worst rank alongside. The QA-retrieval headline
    metric, measured here as the CROSS-MODAL agreement between the
    registry's sparse truth and dense ranker — high MRR means the
    embeddings encode lexical overlap, low means the two modalities
    genuinely disagree — and on THIS fixture they are independent
    (MRR ≈ 0.004, zero top-10 hits; hash-pinned), which is precisely
    the regime where RRF fusion earns its keep; the three keys
    triangulate.

    Exactness: integer overlap counts, ROUND-6 cosine ranks under
    total orders, floor-micro reciprocal ranks, floor mean.

    Scale: queries are the hash sample; both legs are the RRF key's
    relations — the metric costs one extra join over rankings that
    already exist.
    """
    e = load(spark, sf_dir, "embeddings")
    queries = _retrieval_queries(e)
    w_rel = Window.partitionBy("qid").orderBy(F.desc("shared"), "cand")
    relevant = (
        _query_overlap(queries, doc_digests(load(spark, sf_dir, "documents")))
        .withColumn("rk", F.row_number().over(w_rel))
        .where(F.col("rk") == 1)
        .select("qid", "cand")
    )
    return relevant.join(_dense_ranks(e, queries), ["qid", "cand"]).agg(
        F.count("*").alias("n_queries"),
        F.sum(F.when(F.col("rnk") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_rank1"),
        F.sum(F.when(F.col("rnk") <= 10, 1).otherwise(0))
        .cast("long")
        .alias("n_top10"),
        F.max("rnk").cast("long").alias("worst_rank"),
        F.expr("CAST(SUM(1000000 DIV rnk) DIV COUNT(*) AS BIGINT)").alias(
            "mrr_micro"
        ),
    )
