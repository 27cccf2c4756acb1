"""Round-3 extension pack #63: exact VaR / CVaR tail risk.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — Value-at-Risk / Conditional VaR (the worst-α-tail order
statistic and its tail mean — Rockafellar & Uryasev's ES formulation,
the Basel-era risk pair) — re-expressed on the public PySpark DataFrame
API over the driver's testdata.

Hash-parity discipline (round-3 standard): the risk tail is rank-defined
under a (cents DESC, event_id) total order — the only hash-stable
"worst 5%" — and ES folds one floor division.

Scale posture (SURVEY.md §7.6): VaR/CVaR is one rank window inside the
per-group partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

TAIL_DIV = 20  # worst 5% = top n DIV 20 rows per group


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
