"""Round-3 extension pack #41: Bayesian-average rating (additive
smoothing).

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — additive-smoothing / Bayesian-average ranking (the
IMDB-weighted-rating recipe: shrink small-sample rates toward a prior so
a 1-for-1 item cannot outrank a 95-for-100 one) — re-expressed on the
public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the prior is a LITERAL
pseudo-count pair (alpha=5 returns per 100 lines), so the shrunk rate is
one integer division. Zero floats.

Scale posture (SURVEY.md §7.6): the key is one fact-sized
map-side-combinable groupBy plus bounded windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

PRIOR_ALPHA = 5  # prior pseudo-returns
PRIOR_N = 100  # prior pseudo-lines (beta = PRIOR_N - PRIOR_ALPHA)
TOP_K_RATED = 25


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
