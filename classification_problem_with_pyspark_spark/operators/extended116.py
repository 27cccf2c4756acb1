"""Round-4 extension pack #116: Murphy decomposition of the Brier
score and Simpson's diversity index.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — Murphy's (1973) decomposition BS = REL − RES + UNC
(reliability: how far bin forecasts sit from bin outcome rates;
resolution: how much outcome rates vary across bins; uncertainty: the
irreducible ō(1−ō) — the calibration-vs-sharpness split every forecast
verification report quotes) and Simpson's diversity index
D = 1 − Σnᵢ(nᵢ−1)/(N(N−1)) (the probability two draws WITHOUT
replacement differ in type — ecology's standard, exact in rationals) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-4 standard): forecasts are the pack-78
md5 micro-probabilities QUANTIZED to decile midpoints, making
within-bin forecast variance zero BY CONSTRUCTION — the one condition
under which Murphy's identity is exact in rationals; every emitted term
folds as a two-step integer division (per-bin truncation,
deterministic; the python test re-derives the identity within the
truncation slack); Simpson is pure integer pair counting with one DIV
close. Headroom: the RES fold squares (a DIV N) ≤ 1e6·N — inside int64
through sf0.1 (4·10¹⁸); at sf1 shift the micro scale down 10× first.
The limit is ENFORCED at runtime (round-5, ADVICE r4): a bin larger
than 3000 rows raises (raise_error / DuckDB error()) on both sides
instead of silently wrapping.

Scale posture (SURVEY.md §7.6): both are single groupBy-reduce shapes —
Murphy's bin table is ≤ 10 rows, Simpson's segment table is
|nations|×|segments|.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

BRIER_FLIP_MOD = 4  # every 4th forecast blunted to 0.5 (pack-78 convention)

# pack-78's md5 forecast, decile-quantized to the bin MIDPOINT so
# forecasts are constant within a bin (within-bin variance = 0 ⇒ the
# Murphy identity is exact up to the emitted truncations)
_FQ_ORACLE = f"""
        (CASE WHEN CAST(('0x' || substr(md5('brier_' || CAST(vec_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % {BRIER_FLIP_MOD} = 0
              THEN 500000
              WHEN label < 5
              THEN 700000 + CAST(('0x' || substr(md5('bf_' || CAST(vec_id AS VARCHAR)), 1, 15))
                                 AS BIGINT) % 300000
              ELSE CAST(('0x' || substr(md5('bf_' || CAST(vec_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 300000
         END // 100000) * 100000 + 50000
"""


def _fq_spark() -> Column:
    """``_FQ_ORACLE`` on Spark: the forecast is non-negative, so
    ``fq - fq % 100000`` is ``(fq DIV 100000) * 100000``."""
    vec_id = F.col("vec_id").cast("string")
    bf = md5_long(F.concat(F.lit("bf_"), vec_id)) % 300000
    fq = (
        F.when(md5_long(F.concat(F.lit("brier_"), vec_id)) % BRIER_FLIP_MOD == 0, 500000)
        .when(F.col("label") < 5, 700000 + bf)
        .otherwise(bf)
    )
    return fq - fq % 100000 + 50000


@register(
    "ml_brier_decomposition_murphy",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS o,
               CAST({_FQ_ORACLE} AS BIGINT) AS fq
        FROM embeddings
    ),
    bins AS (
        SELECT fq,
               CASE WHEN count(*) > 3000
                    THEN CAST(error('murphy: bin size exceeds int64 micro^2 headroom (3000) - downshift the micro scale') AS BIGINT)
                    ELSE CAST(count(*) AS BIGINT) END AS nk,
               CAST(SUM(o) AS BIGINT) AS pk
        FROM scored GROUP BY fq
    ),
    tot AS (
        SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(pk) AS BIGINT) AS pos
        FROM bins
    ),
    terms AS (
        SELECT b.fq, b.nk, b.pk,
               (1000000 * b.pk) // b.nk AS obar_micro,
               (b.fq * b.nk - 1000000 * b.pk)
                 * (b.fq * b.nk - 1000000 * b.pk) // b.nk AS rel_term,
               ((1000000 * b.pk * t.n - 1000000 * t.pos * b.nk) // t.n)
                 * ((1000000 * b.pk * t.n - 1000000 * t.pos * b.nk) // t.n)
                 // b.nk AS res_term
        FROM bins b, tot t
    ),
    summary AS (
        SELECT CAST(SUM(rel_term) // max(t.n) AS BIGINT) AS rel_micro2,
               CAST(SUM(res_term) // max(t.n) AS BIGINT) AS res_micro2,
               CAST(((1000000 * max(t.pos)) // max(t.n))
                    * ((1000000 * (max(t.n) - max(t.pos))) // max(t.n))
                    AS BIGINT) AS unc_micro2,
               CAST((SELECT SUM((fq - 1000000 * o) * (fq - 1000000 * o))
                     FROM scored) // max(t.n) AS BIGINT) AS bs_micro2
        FROM terms, tot t
    )
    SELECT x.fq AS bin_f_micro, x.nk AS n_bin, x.pk AS n_pos,
           CAST(x.obar_micro AS BIGINT) AS obar_micro,
           CAST(x.rel_term AS BIGINT) AS rel_term_micro2,
           CAST(x.res_term AS BIGINT) AS res_term_micro2,
           s.bs_micro2, s.rel_micro2, s.res_micro2, s.unc_micro2
    FROM terms x, summary s
    ORDER BY x.fq
    """,
)
def ml_brier_decomposition_murphy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (SURVEY.md §2.11):
    BS = REL − RES + UNC over decile-quantized md5 forecasts — the
    calibration-vs-sharpness split (`ml_brier_skill_exact` reports the
    scalar; `ml_calibration_by_score` the curve; this key says WHY the
    score is what it is: miscalibration cost REL vs discrimination
    credit RES vs irreducible UNC). Quantizing forecasts to bin
    midpoints zeroes within-bin forecast variance, the one condition
    making the identity exact; per-bin terms are emitted beside the
    folded summary so the decomposition is auditable row by row.

    Exactness: all terms are two-step integer folds in micro² units
    (per-bin truncating division — deterministic; the python test
    re-derives BS ≈ REL − RES + UNC within the truncation slack);
    RES headroom documented in the module docstring.

    Scale: one groupBy to ≤ 10 bins + one reduce — a single pass.
    """
    e = load(spark, sf_dir, "embeddings")
    scored = e.select(
        F.expr("CASE WHEN label < 5 THEN 1 ELSE 0 END").alias("o"),
        _fq_spark().cast("long").alias("fq"),
    )
    # Loud overflow guard (ADVICE r4): rel/res square a value bounded by
    # 1e6·nk, so int64 holds only while nk ≤ ~3e3 (3034 = ⌊√(2⁶³−1)⌋/1e6).
    # Past the documented headroom the fold must FAIL, not silently wrap —
    # the remedy at larger SF is downshifting the micro scale, a deliberate
    # re-derivation, never an automatic one. Mirrored with error() in the
    # DuckDB oracle so both sides fail identically.
    bins = scored.groupBy("fq").agg(
        F.count("*").cast("long").alias("nk"),
        F.sum("o").cast("long").alias("pk"),
    ).withColumn(
        "nk",
        F.when(F.col("nk") <= 3000, F.col("nk")).otherwise(
            F.expr(
                "raise_error('murphy: bin size exceeds int64 micro^2 "
                "headroom (3000) - downshift the micro scale')"
            ).cast("long")
        ),
    )
    tot = bins.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum("pk").cast("long").alias("pos"),
    )
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "fq",
        "nk",
        "pk",
        "n",
        "pos",
        F.expr("(1000000 * pk) DIV nk").alias("obar_micro"),
        F.expr(
            "(fq * nk - 1000000 * pk) * (fq * nk - 1000000 * pk) DIV nk"
        ).alias("rel_term"),
        F.expr(
            "((1000000 * pk * n - 1000000 * pos * nk) DIV n)"
            " * ((1000000 * pk * n - 1000000 * pos * nk) DIV n) DIV nk"
        ).alias("res_term"),
    )
    bs = scored.agg(
        F.sum(F.expr("(fq - 1000000 * o) * (fq - 1000000 * o)"))
        .cast("long")
        .alias("sq_sum")
    )
    summary = (
        terms.agg(
            F.sum("rel_term").alias("rel_sum"),
            F.sum("res_term").alias("res_sum"),
            F.max("n").alias("n"),
            F.max("pos").alias("pos"),
        )
        .crossJoin(F.broadcast(bs))
        .select(
            F.expr("CAST(rel_sum DIV n AS BIGINT)").alias("rel_micro2"),
            F.expr("CAST(res_sum DIV n AS BIGINT)").alias("res_micro2"),
            F.expr(
                "CAST(((1000000 * pos) DIV n)"
                " * ((1000000 * (n - pos)) DIV n) AS BIGINT)"
            ).alias("unc_micro2"),
            F.expr("CAST(sq_sum DIV n AS BIGINT)").alias("bs_micro2"),
        )
    )
    return (
        terms.crossJoin(F.broadcast(summary))
        .select(
            F.col("fq").alias("bin_f_micro"),
            F.col("nk").alias("n_bin"),
            F.col("pk").alias("n_pos"),
            F.col("obar_micro").cast("long").alias("obar_micro"),
            F.col("rel_term").cast("long").alias("rel_term_micro2"),
            F.col("res_term").cast("long").alias("res_term_micro2"),
            "bs_micro2",
            "rel_micro2",
            "res_micro2",
            "unc_micro2",
        )
        .orderBy("bin_f_micro")
    )


@register(
    "agg_simpson_diversity",
    oracle="""
    WITH seg AS (
        SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS ni
        FROM customer GROUP BY 1, 2
    )
    SELECT nationkey,
           CAST(SUM(ni) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS richness,
           CAST(SUM(ni * (ni - 1)) AS BIGINT) AS same_pairs2,
           CAST((1000000 * (SUM(ni) * (SUM(ni) - 1) - SUM(ni * (ni - 1))))
                // (SUM(ni) * (SUM(ni) - 1)) AS BIGINT) AS simpson_micro
    FROM seg
    GROUP BY nationkey
    ORDER BY nationkey
    """,
)
def agg_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's diversity index per nation (SURVEY.md §2.4):
    D = 1 − Σnᵢ(nᵢ−1)/(N(N−1)) over market-segment counts — the
    probability two customers drawn WITHOUT replacement belong to
    different segments, the ecology-standard diversity companion to
    the registry's entropy (Shannon) and Gini/HHI (concentration)
    keys; unlike Shannon it is EXACT in rationals, no logarithm.

    Exactness: pure integer pair counting; one truncating division.

    Scale: one groupBy to |nations|×|segments| cells with map-side
    partials, then a 25-row reduce.
    """
    c = load(spark, sf_dir, "customer")
    seg = (
        c.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
        )
        .groupBy("nationkey", "segment")
        .agg(F.count("*").cast("long").alias("ni"))
    )
    return (
        seg.groupBy("nationkey")
        .agg(
            F.sum("ni").cast("long").alias("n_customers"),
            F.count("*").cast("long").alias("richness"),
            F.sum(F.expr("ni * (ni - 1)")).cast("long").alias("same_pairs2"),
            F.expr(
                "CAST((1000000 * (SUM(ni) * (SUM(ni) - 1) - SUM(ni * (ni - 1))))"
                " DIV (SUM(ni) * (SUM(ni) - 1)) AS BIGINT)"
            ).alias("simpson_micro"),
        )
        .orderBy("nationkey")
    )
