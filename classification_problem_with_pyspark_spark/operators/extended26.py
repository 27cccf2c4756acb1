"""Round-3 extension pack #26: resampling statistics — deterministic
Poisson-bootstrap confidence intervals, leave-one-group-out jackknife,
and Lincoln-Petersen capture-recapture cardinality estimation.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — the Poisson bootstrap (the resampling form that distributes:
each row draws an independent Poisson(1) replication weight, so no global
sample-with-replacement pass is needed; Kleiner et al.'s bag of little
bootstraps builds on the same idea), Tukey's jackknife, and
capture-recapture population estimation (Lincoln-Petersen) — re-expressed
on the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): all "randomness" is md5
residues against FIXED integer thresholds (the Poisson(1) CDF in micro
units is a literal lookup, not a transcendental at query time); all
statistics fold as integer divisions over exact BIGINT moments in
100-dollar units. Zero RNG, zero libm, zero bare doubles.

Scale posture (SURVEY.md §7.6): the bootstrap fans each fact row out to
B=64 (replicate, weight) pairs and immediately collapses them in ONE
map-side-combinable groupBy — the exact plan shape that makes the
Poisson bootstrap the distributed bootstrap; jackknife touches the fact
table once for per-group moments; capture-recapture needs only the
shingle-hash distinct pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

B_REPLICATES = 64

# P(Poisson(1) <= k) in micro units, k = 0..7; residues >= the last
# threshold draw weight 8 (P ~ 1e-5: the tail is truncated identically
# on both engines)
_POISSON_CDF_MICRO = (367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989)

_W_CASE = (
    "CASE "
    + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POISSON_CDF_MICRO)
    )
    + " ELSE 8 END"
)


@register(
    "agg_bootstrap_ci_revenue",
    oracle=f"""
    WITH folded AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS u100
        FROM orders
    ),
    fan AS (
        SELECT b, u100,
               CAST(('0x' || substr(md5('boot_' || CAST(b AS VARCHAR) || '_'
                                        || CAST(o_orderkey AS VARCHAR)), 1, 15))
                    AS BIGINT) % 1000000 AS u
        FROM folded, (SELECT unnest(range(0, {B_REPLICATES})) AS b)
    ),
    weighted AS (SELECT b, u100, {_W_CASE} AS w FROM fan),
    reps AS (
        SELECT b, (1000000 * SUM(w * u100)) // SUM(w) AS mean_micro
        FROM weighted GROUP BY b
    ),
    sorted AS (SELECT list_sort(list(mean_micro)) AS ms FROM reps),
    point AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               (1000000 * SUM(u100)) // count(*) AS point_micro
        FROM folded
    )
    SELECT CAST({B_REPLICATES} AS BIGINT) AS b_replicates,
           n_rows, CAST(point_micro AS BIGINT) AS point_micro,
           CAST(ms[2] AS BIGINT) AS ci_lo_micro,
           CAST(ms[{B_REPLICATES - 1}] AS BIGINT) AS ci_hi_micro
    FROM point, sorted
    """,
)
def agg_bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean order value
    (SURVEY.md §2.4): every order contributes an independent
    md5-deterministic Poisson(1) replication weight to each of B=64
    bootstrap replicates; the replicate means' 2nd and 63rd order
    statistics bound the ~95% CI. The Poisson form is THE bootstrap that
    distributes — no global with-replacement sampling pass, just a
    B-way fan-out collapsed by one map-side-combinable groupBy (the
    bag-of-little-bootstraps plan shape).

    Exactness: the Poisson(1) CDF is a fixed micro-unit literal lookup
    (no exp() at query time); order values fold to 100-dollar units;
    every replicate mean and both CI bounds are integer divisions of
    exact BIGINTs; the replicate-sort runs over exactly 64 values.

    Scale: fan-out rows carry (b, weight, u100) only; the groupBy
    combines map-side so ~B rows per partition cross the wire. B grows
    with the precision target, never with the data.
    """
    o = load(spark, sf_dir, "orders")
    folded = o.select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 10000").alias("u100"),
    )
    # orders is one parquet file → one input partition; without a spread
    # the 64× fan-out and 9.6M md5s run in a single task (single-file
    # trap, BASELINE.md). Repartition BEFORE the explode so the hash work
    # parallelizes; the groupBy(b) below still combines map-side.
    fan = spread(folded, "o_orderkey").select(
        "o_orderkey",
        "u100",
        F.explode(F.expr(f"sequence(0, {B_REPLICATES - 1})")).alias("b"),
    ).select(
        "b",
        "u100",
        (
            md5_long(
                F.concat(
                    F.lit("boot_"),
                    F.col("b").cast("string"),
                    F.lit("_"),
                    F.col("o_orderkey").cast("string"),
                )
            )
            % 1000000
        ).alias("u"),
    )
    weighted = fan.select("b", "u100", F.expr(_W_CASE).alias("w"))
    reps = weighted.groupBy("b").agg(
        F.expr("(1000000 * SUM(w * u100)) DIV SUM(w)").alias("mean_micro")
    )
    sorted_means = reps.agg(
        F.expr("array_sort(collect_list(mean_micro))").alias("ms")
    )
    point = folded.agg(
        F.count("*").alias("n_rows"),
        F.expr("(1000000 * SUM(u100)) DIV count(*)").alias("point_micro"),
    )
    return point.crossJoin(F.broadcast(sorted_means)).select(
        F.lit(B_REPLICATES).cast("long").alias("b_replicates"),
        "n_rows",
        F.col("point_micro").cast("long").alias("point_micro"),
        F.expr("element_at(ms, 2)").cast("long").alias("ci_lo_micro"),
        F.expr(f"element_at(ms, {B_REPLICATES - 1})").cast("long").alias("ci_hi_micro"),
    )


@register(
    "agg_jackknife_loo_nation",
    oracle="""
    WITH folded AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) // 10000 AS u100
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    per AS (
        SELECT nationkey, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(u100) AS BIGINT) AS s
        FROM folded GROUP BY nationkey
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n_all,
               CAST(SUM(s) AS BIGINT) AS s_all
        FROM per
    )
    SELECT nationkey, n AS n_group,
           (1000000 * (s_all - s)) // (n_all - n) AS loo_mean_micro,
           k * ((1000000 * s_all) // n_all)
               - (k - 1) * ((1000000 * (s_all - s)) // (n_all - n))
               AS pseudo_value_micro
    FROM per, tot ORDER BY nationkey
    """,
)
def agg_jackknife_loo_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife over customer nations (SURVEY.md
    §2.4): the mean order value recomputed with each nation's orders
    removed, plus Tukey pseudo-values — the resampling scheme that
    estimates an estimator's variance from PARTITIONS of the data (the
    grouped jackknife is what you run when the natural resampling unit
    is a shard/cohort, the distributed complement to the row-level
    bootstrap key).

    Exactness: one fact pass builds per-nation (n, s) in 100-dollar
    units; every leave-one-out mean and pseudo-value is an integer
    division/combination of those exact BIGINTs.

    Scale: orders join customer on the custkey equi-key (the shuffle
    the analysis would pay anyway), then 25 bounded rows; the LOO
    algebra never re-reads the facts — k re-aggregations for free.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    folded = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nationkey"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 10000").alias("u100"),
    )
    per = folded.groupBy("nationkey").agg(
        F.count("*").alias("n"), F.sum("u100").alias("s")
    )
    tot = per.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("n_all"),
        F.sum("s").alias("s_all"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "nationkey",
            F.col("n").alias("n_group"),
            F.expr("(1000000 * (s_all - s)) DIV (n_all - n)").alias(
                "loo_mean_micro"
            ),
            F.expr(
                "k * ((1000000 * s_all) DIV n_all)"
                " - (k - 1) * ((1000000 * (s_all - s)) DIV (n_all - n))"
            ).alias("pseudo_value_micro"),
        )
        .orderBy("nationkey")
    )


@register(
    "agg_capture_recapture_ngrams",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
        SELECT DISTINCT array_to_string(list_slice(toks, i, i + 2), ' ') AS s
        FROM (
            SELECT toks, unnest(range(1, len(toks) - 1)) AS i FROM base
        ) x
    ),
    hashed AS (
        SELECT s,
               CAST(('0x' || substr(md5('crA_' || s), 1, 15)) AS BIGINT)
                   % 1000000 AS ha,
               CAST(('0x' || substr(md5('crB_' || s), 1, 15)) AS BIGINT)
                   % 1000000 AS hb
        FROM sh
    ),
    counts AS (
        SELECT CAST(count(*) FILTER (ha < 100000) AS BIGINT) AS n_a,
               CAST(count(*) FILTER (hb < 100000) AS BIGINT) AS n_b,
               CAST(count(*) FILTER (ha < 100000 AND hb < 100000) AS BIGINT)
                   AS n_ab,
               CAST(count(*) AS BIGINT) AS true_distinct
        FROM hashed
    )
    SELECT n_a, n_b, n_ab, (n_a * n_b) // n_ab AS n_hat, true_distinct
    FROM counts
    """,
)
def agg_capture_recapture_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen capture-recapture estimate of the corpus'
    distinct 3-shingle count (SURVEY.md §2.4 sketch family): two
    INDEPENDENTLY-salted 10% md5-hash samples play the two "captures";
    N̂ = n_a·n_b / n_ab estimates the distinct universe from sample
    sizes and overlap alone — the ecology estimator repurposed for
    cardinality, sitting beside KMV/HLL as a third estimation family
    (and, unlike them, auditable from two EXISTING hash samples without
    a sketch pass). Independence is the estimator's load-bearing
    assumption and it must come from DISTINCT salts: a first cut drew
    both captures from one hash with shifted ranges, which pins the
    overlap deterministically and biases N̂ to 0.2·N — caught by this
    pack's accuracy gate, not by parity (both engines agreed on the
    wrong number). The true_distinct column is the exact count for
    calibration — a luxury the small SF affords; at 100 TB only the two
    samples exist.

    Exactness: hash-range membership is integer residue comparison; N̂
    is one integer division. The estimator's bias is the estimator's
    (documented ecology-textbook) bias, not an engine artifact — both
    engines compute the identical number.

    Scale: the distinct-shingle pass is the only fact-sized work; both
    captures read the SAME hashed output with different residue
    predicates, so the marginal cost over one sample is zero.
    """
    d = load(spark, sf_dir, "documents")
    sh = word_ngrams(d, 3).select("ngram").distinct()

    def _res(salt: str):
        return md5_long(F.concat(F.lit(salt), F.col("ngram"))) % 1000000

    hashed = sh.select(_res("crA_").alias("ha"), _res("crB_").alias("hb"))
    counts = hashed.agg(
        F.sum((F.col("ha") < 100000).cast("long")).alias("n_a"),
        F.sum((F.col("hb") < 100000).cast("long")).alias("n_b"),
        F.sum(
            ((F.col("ha") < 100000) & (F.col("hb") < 100000)).cast("long")
        ).alias("n_ab"),
        F.count("*").alias("true_distinct"),
    )
    return counts.select(
        "n_a",
        "n_b",
        "n_ab",
        F.expr("(n_a * n_b) DIV n_ab").alias("n_hat"),
        "true_distinct",
    )
