"""Round-3 extension pack #49: cross-source n-gram overlap matrix.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the corpus-forensics overlap matrix (pairwise shared-shingle
counts between sources; the diagnostic behind "is source B a scrape of
source A?", same digest machinery as Lee et al.'s dedup work) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): shingles are word 5-grams
digested with md5 (the registry's portable-hash idiom), and overlap
counts are DISTINCT-set cardinalities (set algebra, no sampling) —
every number is an exact integer on both engines.

Scale posture (SURVEY.md §7.6): the overlap matrix joins per-source
DISTINCT digest sets on the digest (hash join, never a substring
scan). At 100 TB the digest sets are the expensive part and they are
exactly the artifact the dedup family already materializes once and
shares.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

NGRAM_N = 5  # word-shingle width for the overlap matrix


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
    # single-file trap (BASELINE.md): spread before the shingle explode
    srcs_per_digest = (
        word_ngrams(spread(load(spark, sf_dir, "documents"), "doc_id"), NGRAM_N, "source")
        .select("source", F.md5("ngram").alias("digest"))
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
        SELECT DISTINCT source,
               md5(array_to_string(ws[i:i+{NGRAM_N - 1}], ' ')) AS digest
        FROM toks,
             LATERAL (SELECT unnest(range(1, len(ws) - {NGRAM_N - 1} + 1)) AS i)
        WHERE len(ws) >= {NGRAM_N}
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
