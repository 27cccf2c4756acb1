"""Round-3 extension pack #62: locale-format CSV ingestion and
cost-sensitive threshold selection.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — European-locale CSV (semicolon separator, decimal comma,
thousands dot: the Excel-export dialect half the world's finance teams
ship, which no schema inference parses as numbers) and cost-sensitive
threshold choice (pick the operating point minimizing expected cost
under an asymmetric FP/FN cost matrix — Elkan, "The foundations of
cost-sensitive learning", IJCAI 2001) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the staged CSV is a
deterministic locale render of supplier balances (sign, thousands
dots, decimal comma); the parse normalizes text→cents with pure
string ops so money is exact integers the moment it enters the plan;
the cost scan reuses extended27's driver-verified scored grid, costs
are integer literals, and the argmin is a total order.

Scale posture (SURVEY.md §7.6): locale parsing is per-row string
codegen on a one-pass scan (never a Python UDF); the cost scan is a
window over the distinct-score grid. Both scan-shaped.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.operators.extended27 import (
    _SCORED_SQL,
    _scored,
)
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import bounded_collect, load, stage_dir

COST_FP = 1  # cost units per false positive (needless outreach)
COST_FN = 8  # cost units per false negative (missed conversion)


@register(
    "source_csv_locale_decimal",
    oracle="""
    SELECT CAST(s_suppkey AS BIGINT) AS supp_key,
           s_name AS name,
           CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM supplier
    ORDER BY supp_key
    """,
)
def source_csv_locale_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locale-format CSV ingestion (SURVEY.md §2.1): stage supplier
    balances as a semicolon-separated, decimal-comma, thousands-dot
    CSV ("1.234,56" = 1234.56 — the European Excel dialect) and parse
    it back to exact integer cents with pure string normalization
    (strip the thousands dots, split on the comma — the money NEVER
    passes through a double, so "0,10" cannot become 0.1000000000004).
    Completes the CSV surface beside quoted-multiline and malformed
    modes: same reader, hostile number format.

    The oracle restates cents from the base dim, so a parse that
    loses a digit, a sign, or a dot-group breaks the hash; negative
    balances and 4-digit groups genuinely occur in the fixture
    (asserted in tests).

    Scale: the normalization is regexp_replace + split + integer
    arithmetic — whole-stage-codegen string ops on a one-pass scan;
    the schema-inference alternative reads these columns as strings
    anyway (or worse, mis-parses them), which is why explicit locale
    normalization is the only correct ingestion at any scale.
    """
    stage = stage_dir("csv_locale")
    rows = sorted(
        (r.s_suppkey, r.s_name, round(r.s_acctbal * 100))
        for r in bounded_collect(
            load(spark, sf_dir, "supplier"),
            max_rows=100_000,
            what="supplier dim (fixture staging)",
        )
    )
    path = os.path.join(stage, "part-0.csv")
    with open(path, "w") as f:
        f.write("supp_key;name;acctbal\n")
        for key, name, cents in rows:
            sign = "-" if cents < 0 else ""
            whole, frac = divmod(abs(cents), 100)
            grouped = f"{whole:,}".replace(",", ".")
            f.write(f"{key};{name};{sign}{grouped},{frac:02d}\n")
    back = (
        spark.read.option("header", "true")
        .option("sep", ";")
        .schema("supp_key bigint, name string, acctbal string")
        .csv(path)
    )
    no_groups = F.regexp_replace("acctbal", r"\.", "")
    whole = F.split(no_groups, ",").getItem(0).cast("long")
    frac = F.split(no_groups, ",").getItem(1).cast("long")
    sign = F.when(F.col("acctbal").startswith("-"), -1).otherwise(1)
    return (
        back.select(
            "supp_key",
            "name",
            (sign * (F.abs(whole) * 100 + frac)).cast("long").alias("acctbal_cents"),
        )
        .orderBy("supp_key")
    )


@register(
    "ml_cost_sensitive_threshold",
    oracle=f"""
    WITH {_SCORED_SQL},
    tot AS (
        SELECT CAST(SUM(label) AS BIGINT) AS pos,
               CAST(SUM(1 - label) AS BIGINT) AS neg
        FROM scored
    ),
    grid AS (
        SELECT score, CAST(SUM(label) AS BIGINT) AS p,
               CAST(SUM(1 - label) AS BIGINT) AS n
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT score,
               SUM(p) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS tp,
               SUM(n) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS fp
        FROM grid
    ),
    costs AS (
        SELECT score AS threshold,
               CAST(fp AS BIGINT) AS fp,
               CAST(pos - tp AS BIGINT) AS fn,
               CAST({COST_FP} * fp + {COST_FN} * (pos - tp) AS BIGINT)
                   AS expected_cost
        FROM cum, tot
    )
    SELECT threshold, fp, fn, expected_cost
    FROM costs
    ORDER BY expected_cost, threshold
    LIMIT 1
    """,
)
def ml_cost_sensitive_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive threshold (SURVEY.md §2.11): the operating point
    minimizing total expected cost under an asymmetric cost matrix
    (COST_FP per needless outreach, COST_FN per missed conversion —
    Elkan 2001) over extended27's driver-verified scored grid. The
    third member of the operating-point family: `ml_roc_curve_threshold`
    draws the curve, `ml_threshold_youden` optimizes statistics, this
    key optimizes MONEY — and with FN costing 8× FP it provably picks
    a more permissive threshold than Youden (asserted in tests), which
    is the entire argument for making costs explicit.

    Exactness: integer error counts × integer literal costs; the
    argmin tie order is (cost, threshold ASC).

    Scale: identical to the ROC key — the cost scan is a window over
    the distinct-score grid, bounded by the score range.
    """
    scored = _scored(spark, sf_dir)
    tot = scored.agg(
        F.sum("label").cast("long").alias("pos"),
        F.sum(1 - F.col("label")).cast("long").alias("neg"),
    )
    grid = scored.groupBy("score").agg(
        F.sum("label").cast("long").alias("p"),
        F.sum(1 - F.col("label")).cast("long").alias("n"),
    )
    cum = grid_cumsum(
        grid, [F.desc("score")], [("tp", "p"), ("fp", "n")], keep=["score"]
    )
    costs = cum.crossJoin(F.broadcast(tot)).select(
        F.col("score").alias("threshold"),
        F.col("fp").cast("long").alias("fp"),
        (F.col("pos") - F.col("tp")).cast("long").alias("fn"),
        (COST_FP * F.col("fp") + COST_FN * (F.col("pos") - F.col("tp")))
        .cast("long")
        .alias("expected_cost"),
    )
    return costs.orderBy("expected_cost", "threshold").limit(1)
