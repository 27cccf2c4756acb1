"""Round-3 extension pack #87: quadratic-weighted kappa and the
log₂-binned degree CCDF.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — quadratic-weighted Cohen's kappa (the ordinal agreement
metric: disagreement weighted by (i−j)², chance-corrected against the
marginal product — the scoring metric of essay-grading and medical-
rating benchmarks) and the logarithmically-binned complementary CDF of
a degree distribution (the standard heavy-tail diagnostic: linear
binning drowns the tail, log-2 bins make a power law a straight line —
Clauset/Shalizi/Newman's first plot) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): QWK clears every
denominator — κ = 1 − n·ΣwO / ΣwE′ with E′ᵢⱼ = rᵢ·cⱼ — so the metric
is ONE floor-micro division of exact integer cross-sums; the log-2
bin index is computed by an explicit threshold CASE ladder (integer
comparisons — no float log2 near bin boundaries, where it matters).

Scale posture (SURVEY.md §7.6): QWK is one confusion-matrix count
(≤ k² cells) + marginal folds; the CCDF is a degree count, a bin
projection, and one cumulative window over ≤ 20 bins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

QWK_K = 5  # ordinal scale 0..4 (labels 0-9 collapsed by DIV 2)
QWK_FLIP_MOD = 3  # the stand-in rater drifts ±1 on every 3rd row
MAX_LOG2_BIN = 20


def _bin_case(col: str) -> str:
    """floor(log2(d)) as an integer threshold ladder (no float log)."""
    whens = " ".join(
        f"WHEN {col} < {1 << (b + 1)} THEN {b}" for b in range(MAX_LOG2_BIN)
    )
    return f"(CASE {whens} ELSE {MAX_LOG2_BIN} END)"


@register(
    "ml_quadratic_weighted_kappa",
    oracle=f"""
    WITH rated AS (
        SELECT CAST(label AS BIGINT) // 2 AS y,
               CASE WHEN CAST(('0x' || substr(md5('qwk_' || CAST(vec_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % {QWK_FLIP_MOD} = 0
                    THEN least({QWK_K - 1},
                               greatest(0, CAST(label AS BIGINT) // 2
                                   + CASE WHEN CAST(('0x' || substr(md5('qd_'
                                         || CAST(vec_id AS VARCHAR)), 1, 15))
                                         AS BIGINT) % 2 = 0
                                     THEN 1 ELSE -1 END))
                    ELSE CAST(label AS BIGINT) // 2 END AS yhat
        FROM embeddings
    ),
    o AS (
        SELECT y, yhat, CAST(COUNT(*) AS BIGINT) AS n_cell
        FROM rated GROUP BY y, yhat
    ),
    marg AS (
        SELECT r.y AS i, c.yhat AS j,
               CAST(r.n_row AS BIGINT) AS n_row,
               CAST(c.n_col AS BIGINT) AS n_col
        FROM (SELECT y, SUM(n_cell) AS n_row FROM o GROUP BY y) r
        CROSS JOIN (SELECT yhat, SUM(n_cell) AS n_col FROM o GROUP BY yhat) c
    ),
    sums AS (
        SELECT
            CAST((SELECT SUM(n_cell) FROM o) AS BIGINT) AS n,
            CAST((SELECT SUM((y - yhat) * (y - yhat) * n_cell) FROM o)
                 AS BIGINT) AS wo,
            CAST((SELECT SUM((i - j) * (i - j) * n_row * n_col) FROM marg)
                 AS BIGINT) AS we
    )
    SELECT n, wo AS weighted_observed, we AS weighted_expected_xn,
           CAST(1000000 - (1000000 * n * wo) // we AS BIGINT)
               AS qwk_micro
    FROM sums
    """,
)
def ml_quadratic_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted kappa (SURVEY.md §2.11): ordinal agreement on
    a 0..{QWK_K - 1} scale (labels collapsed by 2) between truth and
    an md5 stand-in rater that drifts ±1 on every {QWK_FLIP_MOD}rd
    row — κ_w = 1 − ΣwᵢⱼOᵢⱼ / ΣwᵢⱼEᵢⱼ with quadratic weights
    w = (i−j)², the metric of essay-grading and radiology benchmarks,
    where being off by two must cost four times being off by one
    (plain kappa can't see the difference; `ml_cohen_kappa` holds
    that unweighted leg). Clearing E's 1/n: κ = 1 − n·ΣwO / Σw·rᵢ·cⱼ
    — the whole chance-corrected metric becomes ONE floor-micro
    division of integer cross-sums, hash-exact.

    Exactness: confusion counts, marginal products, one division;
    magnitudes ≲ k²·n² — inside int64 to sf1.

    Scale: one ≤k² confusion count + marginal folds — the metric is
    free; the clamp at the scale edges (drift cannot leave 0..k−1)
    is part of the stand-in's contract, stated and replayed.
    """
    y = (F.col("label").cast("long") / 2).cast("long")

    def _h(prefix: str):
        return md5_long(F.concat(F.lit(prefix), F.col("vec_id").cast("string")))

    drift = F.when(_h("qd_") % 2 == 0, 1).otherwise(-1)
    yhat = F.when(
        _h("qwk_") % QWK_FLIP_MOD == 0,
        F.least(F.lit(QWK_K - 1), F.greatest(F.lit(0), y + drift)),
    ).otherwise(y)
    rated = load(spark, sf_dir, "embeddings").select(
        y.alias("y"), yhat.alias("yhat")
    )
    o = rated.groupBy("y", "yhat").agg(F.count("*").alias("n_cell"))
    r = o.groupBy("y").agg(F.sum("n_cell").alias("n_row"))
    c = o.groupBy("yhat").agg(F.sum("n_cell").alias("n_col"))
    wo = o.agg(
        F.sum("n_cell").cast("long").alias("n"),
        F.sum(
            (F.col("y") - F.col("yhat")) * (F.col("y") - F.col("yhat")) * F.col("n_cell")
        )
        .cast("long")
        .alias("wo"),
    )
    we = (
        r.crossJoin(c)
        .agg(
            F.sum(
                (F.col("y") - F.col("yhat"))
                * (F.col("y") - F.col("yhat"))
                * F.col("n_row")
                * F.col("n_col")
            )
            .cast("long")
            .alias("we")
        )
    )
    return (
        wo.crossJoin(F.broadcast(we))
        .select(
            "n",
            F.col("wo").alias("weighted_observed"),
            F.col("we").alias("weighted_expected_xn"),
            F.expr(
                "CAST(1000000 - (1000000 * n * wo) DIV we AS BIGINT)"
            ).alias("qwk_micro"),
        )
    )


@register(
    "graph_degree_ccdf_log2",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
    ),
    binned AS (
        SELECT {_bin_case("d")} AS b, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS n FROM binned)
    SELECT CAST(b AS BIGINT) AS log2_bin,
           CAST({{:d}} AS BIGINT) AS bin_lo,
           n_nodes,
           CAST(SUM(n_nodes) OVER (ORDER BY b DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_at_least,
           CAST((1000000 * SUM(n_nodes) OVER (ORDER BY b DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) // t.n
                AS BIGINT) AS ccdf_micro
    FROM binned, tot t
    ORDER BY log2_bin
    """.replace("CAST({:d} AS BIGINT) AS bin_lo,", "CAST(1 << b AS BIGINT) AS bin_lo,"),
)
def graph_degree_ccdf_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-binned degree CCDF (SURVEY.md §2.4b): node counts per
    degree octave (bin b holds degrees in [2ᵇ, 2ᵇ⁺¹)) with the
    complementary CDF — the share of nodes whose degree falls in this
    bin OR HIGHER — the heavy-tail diagnostic plotted before any
    power-law claim (Clauset-Shalizi-Newman's step one: linear bins
    drown the tail, log bins straighten it). Complements
    `graph_degree_distribution` (raw histogram) with the analysis
    view of the same marginal.

    The bin index is an integer threshold LADDER, not floor(log2(·))
    — float log₂ is exact at powers of two and treacherous just below
    them, which is precisely where bin edges live; the ladder costs
    {MAX_LOG2_BIN} comparisons and zero doubt.

    Exactness: integer degrees, bins, counts, floor-micro CCDF; the
    cumulative runs bin-DESCENDING so CCDF(b) includes b (stated).

    Scale: degree count + ≤{MAX_LOG2_BIN}-row census + one window
    over the bins — the edge build is the shared fact-sized cost.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    deg = (
        a.join(b, "k")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .groupBy("src")
        .agg(F.count("*").alias("d"))
    )
    binned = deg.selectExpr(f"{_bin_case('d')} AS b").groupBy("b").agg(
        F.count("*").alias("n_nodes")
    )
    tot = binned.agg(F.sum("n_nodes").cast("long").alias("n"))
    return (
        grid_cumsum(
            binned.crossJoin(F.broadcast(tot)),
            [F.desc("b")],
            [("cum_nodes", "n_nodes")],
            keep=["*"],
        )
        .select(
            F.col("b").cast("long").alias("log2_bin"),
            F.expr("CAST(shiftleft(1, b) AS BIGINT)").alias("bin_lo"),
            "n_nodes",
            F.col("cum_nodes").cast("long").alias("n_at_least"),
            F.expr("CAST((1000000 * cum_nodes) DIV n AS BIGINT)").alias(
                "ccdf_micro"
            ),
        )
        .orderBy("log2_bin")
    )
