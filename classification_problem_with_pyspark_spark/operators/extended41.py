"""Round-3 extension pack #41: Bayesian-average rating (additive
smoothing) and the vocabulary growth curve.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — additive-smoothing / Bayesian-average ranking (the
IMDB-weighted-rating recipe: shrink small-sample rates toward a prior so
a 1-for-1 item cannot outrank a 95-for-100 one) and Heaps-law
vocabulary-growth curves (new-type counts per ingestion batch, the
corpus-planning tool that says when more data stops buying new n-grams)
— re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): the prior is a LITERAL
pseudo-count pair (alpha=5 returns per 100 lines), so the shrunk rate is
one integer division; growth counts come from min-batch first-seen
aggregation and an exact cumulative window. Zero floats.

Scale posture (SURVEY.md §7.6): both keys are one fact-sized
map-side-combinable groupBy plus bounded windows; first-seen is the
min-aggregation idiom (never a sort of occurrences).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

PRIOR_ALPHA = 5  # prior pseudo-returns
PRIOR_N = 100  # prior pseudo-lines (beta = PRIOR_N - PRIOR_ALPHA)
TOP_K_RATED = 25
VOCAB_BATCH = 50  # docs per ingestion batch in the growth curve


@register(
    "agg_bayesian_average_rating",
    oracle=f"""
    WITH per AS (
        SELECT l_partkey AS part,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returns
        FROM lineitem GROUP BY l_partkey
    ),
    scored AS (
        SELECT part, n_lines, n_returns,
               CAST((1000000 * n_returns) // n_lines AS BIGINT)
                   AS raw_rate_micro,
               CAST((1000000 * (n_returns + {PRIOR_ALPHA}))
                    // (n_lines + {PRIOR_N}) AS BIGINT)
                   AS shrunk_rate_micro
        FROM per
    )
    SELECT part, n_lines, n_returns, raw_rate_micro, shrunk_rate_micro
    FROM scored
    ORDER BY shrunk_rate_micro DESC, part
    LIMIT {TOP_K_RATED}
    """,
)
def agg_bayesian_average_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian-average return-rate ranking (SURVEY.md §2.4): each
    part's return rate shrunk toward a literal prior of 5 returns per
    100 lines — the IMDB-weighted-rating / additive-smoothing recipe
    that stops a part with 2 lines and 2 returns (raw 100%) from
    outranking one with 40 returns in 60 lines; the top-25 by SHRUNK
    rate is the actionable worst-parts list a raw-rate sort gets wrong.

    Exactness: the prior is literal pseudo-counts, so the shrunk rate
    is one integer division; the cut is total-order deterministic.

    Scale: one part-keyed map-side-combinable aggregate + a TakeOrdered
    top-k — no extra pass for the prior because it is constants.
    """
    li = load(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count("*").alias("n_lines"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("n_returns"),
    )
    return (
        per.select(
            "part",
            "n_lines",
            "n_returns",
            F.expr(
                "CAST((1000000 * n_returns) DIV n_lines AS BIGINT)"
            ).alias("raw_rate_micro"),
            F.expr(
                f"CAST((1000000 * (n_returns + {PRIOR_ALPHA}))"
                f" DIV (n_lines + {PRIOR_N}) AS BIGINT)"
            ).alias("shrunk_rate_micro"),
        )
        .orderBy(F.desc("shrunk_rate_micro"), "part")
        .limit(TOP_K_RATED)
    )


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
