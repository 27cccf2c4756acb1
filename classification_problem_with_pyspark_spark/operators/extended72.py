"""Round-3 extension pack #72: odds and risk ratios.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the 2×2 contingency odds ratio and risk ratio (the
epidemiology association pair: RR is what people mean, OR is what
case-control designs can estimate) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the 2×2 cells are exact
integer counts and both ratios fold ONE floor-micro division of
integer cross-products.

Scale posture (SURVEY.md §7.6): the 2×2 table is four conditional
sums in one pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

EXPOSURE_GATE = 50  # "exposed": weekend events; "outcome": value > 50


@register(
    "agg_odds_risk_ratios",
    oracle=f"""
    WITH cells AS (
        SELECT CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                    THEN 1 ELSE 0 END AS exposed,
               CASE WHEN value > {EXPOSURE_GATE} THEN 1 ELSE 0 END AS outcome
        FROM events
    ),
    t AS (
        SELECT CAST(SUM(CASE WHEN exposed = 1 AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN exposed = 1 AND outcome = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN exposed = 0 AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN exposed = 0 AND outcome = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM cells
    )
    SELECT a, b, c, d,
           CAST((1000000 * a * d) // (b * c) AS BIGINT) AS odds_ratio_micro,
           CAST((1000000 * a * (c + d)) // (c * (a + b)) AS BIGINT)
               AS risk_ratio_micro,
           CAST((1000000 * a) // (a + b) - (1000000 * c) // (c + d)
                AS BIGINT) AS risk_diff_micro
    FROM t
    """,
)
def agg_odds_risk_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio / risk ratio (SURVEY.md §2.4): the 2×2 association
    pair between weekend exposure and high-value outcome — OR = ad/bc
    (what a case-control design can estimate), RR = [a/(a+b)]/[c/(c+d)]
    (what people actually mean), and the risk difference, all as ONE
    floor-micro division of exact integer cross-products. Keeping OR
    and RR side by side is the point: for common outcomes they
    diverge, and reading OR as RR is the classic epidemiology misstep
    — the key makes the divergence a queryable fact.

    Exactness: four conditional counts; integer cross-products; no
    float anywhere (CI construction needs log — deliberately out of
    scope; the registry's bootstrap keys hold interval machinery).

    Scale: one conditional-count pass, a 1-row output — the
    association pair costs nothing, like every good guardrail.
    """
    cells = load(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("exposed"),
        F.when(F.col("value") > EXPOSURE_GATE, 1).otherwise(0).alias("outcome"),
    )
    t = cells.agg(
        F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    return t.select(
        "a",
        "b",
        "c",
        "d",
        F.expr("CAST((1000000 * a * d) DIV (b * c) AS BIGINT)").alias(
            "odds_ratio_micro"
        ),
        F.expr(
            "CAST((1000000 * a * (c + d)) DIV (c * (a + b)) AS BIGINT)"
        ).alias("risk_ratio_micro"),
        F.expr(
            "CAST((1000000 * a) DIV (a + b) - (1000000 * c) DIV (c + d) "
            "AS BIGINT)"
        ).alias("risk_diff_micro"),
    )
