"""Round-4 extension pack #110: shingle-containment dedup and
group-relative advantage normalization.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — containment similarity (|A∩B|/min(|A|,|B|), Broder's
companion to resemblance/Jaccard: the measure that catches a document
QUOTED WHOLESALE inside a larger one, which symmetric Jaccard dilutes
away as the host grows) and group-relative advantage normalization
(A_i = (r_i − μ_group)/σ_group, the per-prompt reward standardization
popularized by GRPO-style RL post-training — public literature) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-4 standard): containment folds exact
integer digest counts with a floor-micro close; rewards are integer
micro TTR (type-token ratio); the z-score is the ONE double expression,
built from exact BIGINT moments with the identical expression tree on
both engines and rounded to micro before output; zero-variance groups
clamp the advantage to 0 by an integer predicate, never a NaN.

Scale posture (SURVEY.md §7.6): containment pairs are bounded by true
digest overlap (the same inverted-index join as the Jaccard family — no
all-pairs stage); advantage is one groupBy for moments + one broadcast
join back — the map-side-combinable shape at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

CONT_NGRAM = 5
CONT_THRESHOLD_MICRO = 500_000  # report pairs with containment >= 0.5


@register(
    "llm_containment_dedup",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    shingles AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(ws[i:i+{CONT_NGRAM - 1}], ' ')) AS digest
        FROM toks,
             LATERAL (SELECT unnest(range(1, len(ws) - {CONT_NGRAM - 1} + 1))
                      AS i)
        WHERE len(ws) >= {CONT_NGRAM}
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
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    shingles = (
        word_ngrams(d, CONT_NGRAM, "doc_id")
        .select("doc_id", F.md5("ngram").alias("digest"))
        .distinct()
    )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_digests"))
    a = shingles.select(F.col("doc_id").alias("lo"), "digest")
    b = shingles.select(F.col("doc_id").alias("hi"), "digest")
    pairs = (
        a.join(b, "digest")
        .where(F.col("hi") > F.col("lo"))
        .groupBy("lo", "hi")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("lo"), F.col("n_digests").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("hi"), F.col("n_digests").alias("nb"))
    lo_is_small = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("lo") < F.col("hi"))
    )
    oriented = (
        pairs.join(sa, "lo")
        .join(sb, "hi")
        .select(
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
