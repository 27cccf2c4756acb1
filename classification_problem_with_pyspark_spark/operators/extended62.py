"""Round-3 extension pack #62: locale-format CSV ingestion.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — European-locale CSV (semicolon separator, decimal comma,
thousands dot: the Excel-export dialect half the world's finance teams
ship, which no schema inference parses as numbers) — re-expressed on
the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): the staged CSV is a
deterministic locale render of supplier balances (sign, thousands
dots, decimal comma); the parse normalizes text→cents with pure
string ops so money is exact integers the moment it enters the plan.

Scale posture (SURVEY.md §7.6): locale parsing is per-row string
codegen on a one-pass scan (never a Python UDF).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import bounded_collect, load, stage_dir


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
