"""Round-3 extension pack #63: dedup threshold-sensitivity curve and
exact VaR / CVaR tail risk.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — the dedup yield curve (corpus survivors as a function of
the near-dup similarity threshold; the tuning sweep run before
committing a threshold, since Lee et al.-style dedup is threshold-
sensitive and the cost of a wrong cut is silent) and Value-at-Risk /
Conditional VaR (the worst-α-tail order statistic and its tail mean —
Rockafellar & Uryasev's ES formulation, the Basel-era risk pair) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): pair similarities are exact
floor-micro Jaccard over distinct 5-gram digest sets (the pack-49
machinery); the curve evaluates ONE pair table against literal
thresholds (no recomputation per point); the risk tail is rank-defined
under a (cents DESC, event_id) total order — the only hash-stable
"worst 5%" — and ES folds one floor division.

Scale posture (SURVEY.md §7.6): the pair table is a digest hash join
bounded by true overlap, computed once for all thresholds (the whole
point of sweeping thresholds on materialized similarities); VaR/CVaR
is one rank window inside the per-group partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows

CURVE_NGRAM = 5
THRESHOLDS_MICRO = (500_000, 600_000, 700_000, 800_000, 900_000)
TAIL_DIV = 20  # worst 5% = top n DIV 20 rows per group


@register(
    "llm_dedup_threshold_curve",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    shingles AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(ws[i:i+{CURVE_NGRAM - 1}], ' ')) AS digest
        FROM toks,
             LATERAL (SELECT unnest(range(1, len(ws) - {CURVE_NGRAM - 1} + 1)) AS i)
        WHERE len(ws) >= {CURVE_NGRAM}
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
    digest sets (the pack-49 machinery); the five curve points read
    the SAME pair table via a broadcast threshold spine — similarity
    is computed once, which is the entire economics of threshold
    sweeps at corpus scale.

    Scale: one digest hash join bounded by true overlap + a 5-row
    spine join. Re-running dedup per candidate threshold — the naive
    sweep — costs 5× the pair build for identical output.
    """
    d = load(spark, sf_dir, "documents")
    # single-file trap (BASELINE.md): spread before the shingle explode
    shingles = (
        word_ngrams(spread(d, "doc_id"), CURVE_NGRAM, "doc_id")
        .select("doc_id", F.md5("ngram").alias("digest"))
        .distinct()
    )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_digests"))
    a = shingles.select(F.col("doc_id").alias("lo"), "digest")
    b = shingles.select(F.col("doc_id").alias("hi"), "digest")
    pairs = (
        a.join(b, "digest")
        .where(F.col("lo") < F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.count("*").alias("shared"))
    )
    sims = (
        pairs.join(sizes.select(F.col("doc_id").alias("lo"), F.col("n_digests").alias("na")), "lo")
        .join(sizes.select(F.col("doc_id").alias("hi"), F.col("n_digests").alias("nb")), "hi")
        .select(
            "lo",
            "hi",
            F.expr("(1000000 * shared) DIV (na + nb - shared)").alias("jac_micro"),
        )
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
    "agg_var_cvar_exact",
    oracle=f"""
    WITH v AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    ranked AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents DESC, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
    ),
    tail AS (
        SELECT event_type, cents, n FROM ranked
        WHERE rn <= n // {TAIL_DIV}
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_tail,
           CAST(MIN(cents) AS BIGINT) AS var95_cents,
           CAST(SUM(cents) // COUNT(*) AS BIGINT) AS cvar95_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents
    FROM tail
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_var_cvar_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact VaR / CVaR (SURVEY.md §2.4): per event type, the worst-5%
    tail under the (cents DESC, event_id) total order — VaR₉₅ is the
    tail's entry order statistic, CVaR₉₅ (expected shortfall) its
    floor-integer mean — the risk pair that replaced plain VaR in
    every modern mandate because CVaR sees HOW BAD the tail is, not
    just where it starts (Rockafellar & Uryasev 2000); CVaR ≥ VaR
    always, asserted. The rank-defined tail is the same hash-stable
    discipline as `agg_tail_attribution_topk`, applied per group and
    to the risk semantics.

    Exactness: integer cents, rank membership, one floor division.

    Scale: one rank window inside the per-type partitioning; at
    100 TB the approx-quantile prefilter cuts 95% of the sort before
    the exact tail rank, same as the tail-attribution key documents.
    """
    v = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    w_rn = Window.partitionBy("event_type").orderBy(F.desc("cents"), "event_id")
    w_n = Window.partitionBy("event_type")
    ranked = v.select(
        "event_type",
        "cents",
        F.row_number().over(w_rn).alias("rn"),
        F.count("*").over(w_n).alias("n"),
    )
    tail = ranked.where(F.expr(f"rn <= n DIV {TAIL_DIV}"))
    return (
        tail.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_rows"),
            F.count("*").alias("n_tail"),
            F.min("cents").cast("long").alias("var95_cents"),
            F.expr("CAST(SUM(cents) DIV COUNT(*) AS BIGINT)").alias(
                "cvar95_cents"
            ),
            F.max("cents").cast("long").alias("max_cents"),
        )
        .orderBy("event_type")
    )
