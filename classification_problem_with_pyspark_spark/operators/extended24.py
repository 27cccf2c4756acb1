"""Round-3 extension pack #24: one-way ANOVA from exact moments, Fano
dispersion index, sign-random-projection LSH signatures, and DSIR-style
domain-affinity importance resampling.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — Fisher's one-way ANOVA, the Fano factor / index of dispersion,
sign-random-projection LSH (Charikar 2002, the SimHash family applied to
dense vectors), and data-selection-by-importance-resampling (DSIR, Xie et
al. 2023: upweight corpus documents by affinity to a target-domain n-gram
profile) — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-3 standard, hard-won in this round's
multi-SF work): every statistic below is an exact BIGINT contract —
100-dollar-unit folds keep squared sums under 2^53 (the HHI lesson), the
Fano factor and ANOVA F fold as single integer-division expressions, SRP
signatures come from micro-quantized integer dot products (sign of an
exact integer, no float sum ordering), and resampling acceptance is an
md5-threshold comparison. Zero transcendentals, zero bare doubles.

Scale posture (SURVEY.md §7.6): every key's only fact-sized shuffle is
one map-side-combinable groupBy; the SRP plane fan-out is a broadcast of
16 rows; profiles/models are bounded broadcast tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.embedding_kernels import (
    as_matrix,
    bit_code,
    sign_planes,
    sign_projections,
)
from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


# ---------------------------------------------------------------------------
# One-way ANOVA from exact integer moments
# ---------------------------------------------------------------------------


@register(
    "agg_anova_f",
    oracle="""
    WITH folded AS (
        SELECT o_orderpriority AS grp,
               CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS u
        FROM orders
    ),
    per_group AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(u) AS BIGINT) AS s,
               CAST(SUM(u * u) AS BIGINT) AS q
        FROM folded GROUP BY grp
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS n_total,
               CAST(SUM(s) AS BIGINT) AS s_total,
               CAST(SUM(q) AS BIGINT) AS q_total,
               CAST(SUM((s * s) // n) AS BIGINT) AS between_raw
        FROM per_group
    )
    SELECT k, n_total,
           between_raw - (s_total * s_total) // n_total AS ssb_fold,
           q_total - between_raw AS ssw_fold,
           (1000000 * ((between_raw - (s_total * s_total) // n_total)
                       // (k - 1)))
               // ((q_total - between_raw) // (n_total - k)) AS f_micro
    FROM tot
    """,
)
def agg_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across order priorities on order value
    (SURVEY.md §2.4): between/within sums of squares from the moment
    identities SSB = Σ s_g²/n_g − S²/N and SSW = Q − Σ s_g²/n_g,
    completing the testing family (t-test / Mann-Whitney / chi² /
    two-proportion z) with the k>2-groups omnibus test.

    Exactness: order values fold to 100-dollar units (cents² crosses
    2^53 at sf0.1 — the agg_hhi_concentration lesson), every s_g²/n_g
    takes integer floor division, and F folds as ONE nested
    integer-division expression in micro units — the contract is a pure
    BIGINT function of the data, bit-identical on any engine. The <1
    unit² per-group floor slack is documented contract, not error.

    Scale: one map-side-combinable groupBy to 5 rows; everything after
    runs on the bounded per-group table.
    """
    o = load(spark, sf_dir, "orders")
    folded = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 10000").alias("u"),
    )
    per_group = folded.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("u").alias("s"),
        F.sum(F.col("u") * F.col("u")).alias("q"),
    )
    tot = per_group.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("n_total"),
        F.sum("s").alias("s_total"),
        F.sum("q").alias("q_total"),
        F.sum(F.expr("(s * s) DIV n")).alias("between_raw"),
    )
    return tot.select(
        "k",
        "n_total",
        F.expr("between_raw - (s_total * s_total) DIV n_total").alias("ssb_fold"),
        F.expr("q_total - between_raw").alias("ssw_fold"),
        F.expr(
            "(1000000 * ((between_raw - (s_total * s_total) DIV n_total)"
            " DIV (k - 1)))"
            " DIV ((q_total - between_raw) DIV (n_total - k))"
        ).alias("f_micro"),
    )


# ---------------------------------------------------------------------------
# Fano factor / index of dispersion per event type
# ---------------------------------------------------------------------------


@register(
    "events_dispersion_index",
    oracle="""
    WITH b AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS bucket
        FROM events
    ),
    span AS (
        SELECT min(bucket) AS lo, max(bucket) AS hi FROM b
    ),
    per_bucket AS (
        SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS c
        FROM b GROUP BY event_type, bucket
    ),
    m AS (
        SELECT event_type,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(c * c) AS BIGINT) AS s2
        FROM per_bucket GROUP BY event_type
    )
    SELECT event_type,
           CAST(hi - lo + 1 AS BIGINT) AS n_buckets,
           s1 AS n_events, s2 AS sum_sq,
           (1000000 * s1) // (hi - lo + 1) AS mean_micro,
           (1000000 * ((hi - lo + 1) * s2 - s1 * s1))
               // ((hi - lo + 1) * s1) AS fano_micro
    FROM m, span ORDER BY event_type
    """,
)
def events_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion) of hourly arrivals per event
    type (SURVEY.md §2.13): variance-to-mean ratio of per-hour counts
    over the FULL observed hour grid — Poisson arrivals sit at 1, bursty
    traffic above, regular traffic below; the single-number burstiness
    companion to `events_inter_arrival` and `events_autocorrelation`.

    Exactness: hour buckets from integer epoch-microseconds (the
    events_kaplan_meier discipline — fractional-second ts make
    second-level CASTs round differently across engines); empty hours
    enter through the closed form (they contribute zero to Σc and Σc²,
    so only the bucket-count n matters — no gap-fill join needed);
    Fano = (nΣc² − S²)/(nS) folds as one integer division in micro
    units. Pure BIGINT contract.

    Scale: one (type, hour)-keyed count (map-side combinable), then a
    5-row rollup; the global span is a broadcast single row.
    """
    e = load(spark, sf_dir, "events")
    b = e.select(
        "event_type", F.expr("unix_micros(ts) DIV 3600000000").alias("bucket")
    )
    span = b.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    per_bucket = b.groupBy("event_type", "bucket").agg(F.count("*").alias("c"))
    m = per_bucket.groupBy("event_type").agg(
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    return (
        m.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            (F.col("hi") - F.col("lo") + 1).alias("n_buckets"),
            F.col("s1").alias("n_events"),
            F.col("s2").alias("sum_sq"),
            F.expr("(1000000 * s1) DIV (hi - lo + 1)").alias("mean_micro"),
            F.expr(
                "(1000000 * ((hi - lo + 1) * s2 - s1 * s1))"
                " DIV ((hi - lo + 1) * s1)"
            ).alias("fano_micro"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Sign-random-projection LSH signatures over embeddings
# ---------------------------------------------------------------------------

N_PLANES = 16

# Shared CTE chain producing (vec_id, label, signature) — also imported
# by extension pack 31's bucket-purity key so both engines' definitions
# live in exactly one place.
SRP_SIG_SQL = f"""
    dims AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS d,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings
    ),
    planes AS (SELECT unnest(range(0, {N_PLANES})) AS p),
    proj AS (
        SELECT vec_id, label, p,
               SUM((1 - 2 * (CAST(('0x' || substr(md5(
                        'srp_' || CAST(p AS VARCHAR) || '_'
                               || CAST(d AS VARCHAR)), 1, 15))
                    AS BIGINT) % 2)) * q) AS s
        FROM dims, planes GROUP BY vec_id, label, p
    ),
    sig AS (
        SELECT vec_id, label,
               CAST(SUM(CASE WHEN s >= 0 THEN 1 ELSE 0 END
                        * (1 << p)) AS BIGINT) AS signature
        FROM proj GROUP BY vec_id, label
    )
"""


def srp_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, signature) for every embedding — the shared SRP
    pipeline behind emb_srp_signature and emb_bucket_label_purity."""
    # The ±1 plane weights depend only on (plane, dim), so each task
    # builds them once per row width (the dim domain derives from the
    # data), and each Arrow batch projects in one exact int64 matrix
    # product, so signatures equal the oracle's integer sums bit for bit.
    # Zero-width rows are dropped, as posexplode/unnest drop them. A
    # per-row zip_with/aggregate fold measured 4× slower (5.9 s vs 1.4 s).
    import numpy as np
    import pandas as pd

    n_planes = N_PLANES

    def sign_batches(batches):
        w_cache: dict[int, np.ndarray] = {}
        for pdf in batches:
            embs = pdf["embedding"].to_numpy()
            widths = np.array([len(e) for e in embs])
            keep = widths > 0  # posexplode/unnest drop empty rows
            out_sig = np.zeros(len(embs), dtype=np.int64)
            for width in np.unique(widths[keep]):
                idx = np.nonzero(widths == width)[0]
                if width not in w_cache:
                    w_cache[width] = sign_planes("srp", n_planes, int(width))
                s = sign_projections(as_matrix(embs[idx]), w_cache[width])
                out_sig[idx] = bit_code(s >= 0)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "label": pdf["label"].to_numpy()[keep],
                    "signature": out_sig[keep],
                }
            )

    emb = spread(load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding"), "vec_id")
    return emb.mapInPandas(
        sign_batches, schema="vec_id long, label int, signature long"
    )


@register(
    "emb_srp_signature",
    oracle=f"""
    WITH {SRP_SIG_SQL}
    SELECT vec_id, label, signature,
           CAST(count(*) OVER (PARTITION BY signature) AS BIGINT)
               AS bucket_size
    FROM sig
    """,
)
def emb_srp_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH signatures (SURVEY.md §2.12 ANN
    family): each embedding hashed to a 16-bit code by the signs of 16
    pseudo-random ±1 hyperplane projections (Charikar 2002 — Hamming
    distance between codes estimates angular distance), plus the
    occupancy of each code bucket — the bucketing view that turns
    cosine ANN into equi-join candidate generation, companion to
    `llm_similarity_lsh` (MLlib BRP) with a fully portable, engine-
    independent hash contract.

    Exactness: components micro-quantize to BIGINT first (float32 →
    double is exact; round at 1e6 matches both engines), hyperplane
    weights are ±1 by md5 parity of ('srp_', plane, dim), so every
    projection is an exact INTEGER sum — sign decisions can never sit
    on a float boundary.

    Scale: the plane table (16 rows) broadcasts against the exploded
    (vec, dim) fact; at production dim counts the same signature is one
    mapInPandas matmul per Arrow batch (the llm_similarity_topk path) —
    the explode form here keeps the oracle byte-identical.
    """
    sig = srp_signatures(spark, sf_dir)
    return sig.select(
        "vec_id",
        "label",
        "signature",
        F.count("*")
        .over(Window.partitionBy("signature"))
        .cast("long")
        .alias("bucket_size"),
    )


# ---------------------------------------------------------------------------
# DSIR-style domain-affinity importance resampling
# ---------------------------------------------------------------------------

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
