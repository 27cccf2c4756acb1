"""Round-4 extension pack #117: cumulative VWAP.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — VWAP (cumulative Σ price·volume / Σ volume through the
session: the execution benchmark every trading desk measures fills
against) — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-4 standard): VWAP folds exact cents×qty
integers with a per-row truncating division close.

Scale posture (SURVEY.md §7.6): two growing-frame windows per part
partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

VWAP_PARTS_MOD = 200  # hash-sampled parts whose fill sequence we track


@register(
    "window_vwap",
    oracle=f"""
    WITH fills AS (
        SELECT l_partkey AS part, l_shipdate AS ts, l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS pv_cents,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
        WHERE CAST(('0x' || substr(md5('vwap_' || CAST(l_partkey AS VARCHAR)), 1, 15))
                   AS BIGINT) % {VWAP_PARTS_MOD} = 0
    ),
    cum AS (
        SELECT part, ts, l_orderkey, l_linenumber, pv_cents, qty,
               SUM(pv_cents) OVER w AS cum_pv,
               SUM(qty) OVER w AS cum_qty
        FROM fills
        WINDOW w AS (PARTITION BY part ORDER BY ts, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT part, l_orderkey, l_linenumber,
           CAST(cum_qty AS BIGINT) AS cum_qty,
           CAST(cum_pv AS BIGINT) AS cum_pv_cents,
           CAST(cum_pv // cum_qty AS BIGINT) AS vwap_cents,
           pv_cents // qty > cum_pv // cum_qty AS above_vwap
    FROM cum
    ORDER BY part, l_orderkey, l_linenumber
    """,
)
def window_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative VWAP per part (SURVEY.md §2.5, finance family): over
    each hash-sampled part's fill sequence (lineitems by ship date),
    the running Σ price·qty / Σ qty — the execution benchmark a fill
    is judged against, with the per-fill above/below-VWAP flag (the
    extendedprice is the line's total, so line unit price is
    pv/qty). Completes the running-sum/OBV/Bollinger family with the
    volume-weighted member.

    Exactness: cents×qty integers end to end; the VWAP close and the
    unit-price comparison are truncating integer divisions; the fill
    order is the (ts, orderkey, linenumber) total order.

    Scale: one growing-frame window per part partition — no global
    window, no shrinking frames.
    """
    li = load(spark, sf_dir, "lineitem")
    phash = md5_long(F.concat(F.lit("vwap_"), F.col("l_partkey").cast("string")))
    fills = li.where(phash % VWAP_PARTS_MOD == 0).select(
        F.col("l_partkey").alias("part"),
        F.col("l_shipdate").alias("ts"),
        "l_orderkey",
        "l_linenumber",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("pv_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    w = (
        Window.partitionBy("part")
        .orderBy("ts", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = fills.select(
        "part",
        "l_orderkey",
        "l_linenumber",
        "pv_cents",
        "qty",
        F.sum("pv_cents").over(w).alias("cum_pv"),
        F.sum("qty").over(w).alias("cum_qty"),
    )
    return cum.select(
        "part",
        "l_orderkey",
        "l_linenumber",
        F.col("cum_qty").cast("long").alias("cum_qty"),
        F.col("cum_pv").cast("long").alias("cum_pv_cents"),
        F.expr("CAST(cum_pv DIV cum_qty AS BIGINT)").alias("vwap_cents"),
        F.expr("pv_cents DIV qty > cum_pv DIV cum_qty").alias("above_vwap"),
    ).orderBy("part", "l_orderkey", "l_linenumber")
