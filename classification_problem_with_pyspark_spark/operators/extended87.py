"""Round-3 extension pack #87: the log₂-binned degree CCDF.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the logarithmically-binned complementary CDF of a degree
distribution (the standard heavy-tail diagnostic: linear binning drowns
the tail, log-2 bins make a power law a straight line —
Clauset/Shalizi/Newman's first plot) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the log-2 bin index is
computed by an explicit threshold CASE ladder (integer comparisons — no
float log2 near bin boundaries, where it matters).

Scale posture (SURVEY.md §7.6): a degree count, a bin projection, and
one cumulative window over ≤ 20 bins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

MAX_LOG2_BIN = 20


def _bin_case(col: str) -> str:
    """floor(log2(d)) as an integer threshold ladder (no float log)."""
    whens = " ".join(
        f"WHEN {col} < {1 << (b + 1)} THEN {b}" for b in range(MAX_LOG2_BIN)
    )
    return f"(CASE {whens} ELSE {MAX_LOG2_BIN} END)"


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
