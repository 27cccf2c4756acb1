"""Round-3 extension pack #105: Luhn checksum validation.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — the Luhn mod-10 check digit (Luhn 1960, the checksum on
every payment card and IMEI; double every second digit from the right,
subtract 9 above 9, the total must divide by 10) — re-expressed on the
public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): card-like numbers are
deterministic digit strings from order keys with the TRUE Luhn check
digit appended, and every 13th number is corrupted by one digit — the
validator must pass exactly the uncorrupted ones; validation is pure
digit algebra via a bounded fold.

Scale posture (SURVEY.md §7.6): Luhn is per-row digit folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

LUHN_CORRUPT_MOD = 13


def _luhn_digit_sql(numcol: str) -> str:
    """Luhn sum of a 11-digit payload string via explicit digit terms."""
    terms = []
    # payload digits indexed 1..11 left-to-right; from the RIGHT of the
    # full 12-digit number (payload + check), payload position i has
    # right-index 12-i: doubled when right-index is even
    for i in range(1, 12):
        d = f"CAST(substr({numcol}, {i}, 1) AS BIGINT)"
        if (12 - i) % 2 == 0:
            terms.append(
                f"(CASE WHEN 2 * {d} > 9 THEN 2 * {d} - 9 ELSE 2 * {d} END)"
            )
        else:
            terms.append(d)
    return " + ".join(terms)


@register(
    "scalar_luhn_checksum_suite",
    oracle=f"""
    WITH cards AS (
        SELECT o_orderkey AS k,
               lpad(CAST(o_orderkey % 100000000000 AS VARCHAR), 11, '0')
                   AS payload
        FROM orders
    ),
    signed AS (
        SELECT k, payload,
               (10 - ({_luhn_digit_sql('payload')}) % 10) % 10 AS check_digit
        FROM cards
    ),
    issued AS (  -- every {LUHN_CORRUPT_MOD}th card corrupts digit 5 (+1 mod 10)
        SELECT k,
               CASE WHEN k % {LUHN_CORRUPT_MOD} = 0
                    THEN substr(payload, 1, 4)
                         || CAST((CAST(substr(payload, 5, 1) AS BIGINT) + 1) % 10
                                 AS VARCHAR)
                         || substr(payload, 6, 6)
                    ELSE payload END AS payload,
               check_digit
        FROM signed
    ),
    validated AS (
        SELECT k,
               (({_luhn_digit_sql('payload')}) + check_digit) % 10 = 0
                   AS luhn_ok
        FROM issued
    )
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_cards,
        CAST(SUM(CASE WHEN luhn_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        CAST(SUM(CASE WHEN NOT luhn_ok THEN 1 ELSE 0 END) AS BIGINT)
            AS n_rejected,
        CAST(SUM(CASE WHEN k % {LUHN_CORRUPT_MOD} = 0 AND luhn_ok
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_missed_corruptions
    FROM validated
    """,
)
def scalar_luhn_checksum_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn checksum (SURVEY.md §2.8): 11-digit payloads from order
    keys get the TRUE Luhn check digit appended; every
    {LUHN_CORRUPT_MOD}th card is then corrupted by one digit (+1 mod
    10 at position 5), and the validator — double every second digit
    from the right, fold, mod 10 — must reject EXACTLY the corrupted
    ones. Single-digit errors are what Luhn provably catches
    (n_missed_corruptions ≡ 0 for a +1 corruption, hash-pinned), and
    the validator as scan-side digit algebra is how card fields are
    screened at ingest, beside the registry's trailer/bitpack/BOM
    integrity family.

    Exactness: pure digit arithmetic, unrolled as 11 explicit terms
    so both engines compute the identical fold.

    Scale: per-row codegen — checksums at ingest rate.
    """
    payload = F.lpad(
        (F.col("o_orderkey") % 100000000000).cast("string"), 11, "0"
    )
    cards = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), payload.alias("payload")
    )
    luhn = _luhn_digit_sql("payload")
    signed = cards.withColumn(
        "check_digit", F.expr(f"(10 - ({luhn}) % 10) % 10")
    )
    issued = signed.withColumn(
        "payload",
        F.when(
            F.col("k") % LUHN_CORRUPT_MOD == 0,
            F.concat(
                F.expr("substr(payload, 1, 4)"),
                F.expr(
                    "CAST((CAST(substr(payload, 5, 1) AS BIGINT) + 1) % 10 "
                    "AS STRING)"
                ),
                F.expr("substr(payload, 6, 6)"),
            ),
        ).otherwise(F.col("payload")),
    )
    validated = issued.withColumn(
        "luhn_ok", F.expr(f"(({luhn}) + check_digit) % 10 = 0")
    )
    return validated.agg(
        F.count("*").alias("n_cards"),
        F.sum(F.when(F.col("luhn_ok"), 1).otherwise(0)).cast("long").alias(
            "n_valid"
        ),
        F.sum(F.when(~F.col("luhn_ok"), 1).otherwise(0)).cast("long").alias(
            "n_rejected"
        ),
        F.sum(
            F.when(
                (F.col("k") % LUHN_CORRUPT_MOD == 0) & F.col("luhn_ok"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_missed_corruptions"),
    )
