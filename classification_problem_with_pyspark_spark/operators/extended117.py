"""Round-4 extension pack #117: cumulative VWAP and split-conformal
prediction intervals.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — VWAP (cumulative Σ price·volume / Σ volume through the
session: the execution benchmark every trading desk measures fills
against) and split-conformal prediction (hold out a calibration set,
take the ⌈(n+1)(1−α)⌉-th absolute residual as the radius q, then
[ŷ−q, ŷ+q] covers ≥ 1−α of fresh points with NO distributional
assumptions — Vovk et al.; the distribution-free uncertainty wrapper
modern ML serving stacks bolt onto any point predictor) — re-expressed
on the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-4 standard): VWAP folds exact cents×qty
integers with a per-row truncating division close; conformal uses an
md5 calibration/test split, integer cents residuals, an exact
order-statistic radius, and integer coverage counting — zero floats
anywhere in the key.

Scale posture (SURVEY.md §7.6): VWAP is two growing-frame windows per
part partition; conformal is one bounded groupBy for the predictor,
one rank window for the radius (TakeOrdered shape on the calibration
slice), and one broadcast comparison over the test slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

VWAP_PARTS_MOD = 200  # hash-sampled parts whose fill sequence we track
CONF_ALPHA_PCT = 10  # 90% target coverage
CONF_CAL_MOD = 3  # every 3rd order (by md5) calibrates; rest is test


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


@register(
    "ml_conformal_interval_split",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS y,
               o_orderpriority AS grp,
               CAST(('0x' || substr(md5('conf_' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                    AS BIGINT) % {CONF_CAL_MOD} = 0 AS is_cal
        FROM orders
    ),
    model AS (  -- point predictor: per-priority mean on the CAL slice
        SELECT grp, CAST(SUM(y) // count(*) AS BIGINT) AS yhat
        FROM base WHERE is_cal GROUP BY grp
    ),
    resid AS (
        SELECT b.o_orderkey, abs(b.y - m.yhat) AS r, b.is_cal
        FROM base b JOIN model m ON m.grp = b.grp
    ),
    cal AS (
        SELECT r, row_number() OVER (ORDER BY r, o_orderkey) AS rn,
               count(*) OVER () AS n_cal
        FROM resid WHERE is_cal
    ),
    q AS (  -- radius = ceil((n+1)(1-alpha))-th calibration residual
        SELECT CAST(max(n_cal) AS BIGINT) AS n_cal,
               CAST(max(CASE WHEN rn = least(n_cal,
                        ((n_cal + 1) * (100 - {CONF_ALPHA_PCT}) + 99) // 100)
                    THEN r END) AS BIGINT) AS q_cents
        FROM cal
    )
    SELECT q.n_cal,
           CAST(SUM(CASE WHEN NOT t.is_cal THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test,
           q.q_cents,
           CAST(SUM(CASE WHEN NOT t.is_cal AND t.r <= q.q_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST((1000000 * SUM(CASE WHEN NOT t.is_cal AND t.r <= q.q_cents
                                    THEN 1 ELSE 0 END))
                // SUM(CASE WHEN NOT t.is_cal THEN 1 ELSE 0 END) AS BIGINT)
               AS coverage_micro
    FROM resid t, q
    GROUP BY q.n_cal, q.q_cents
    """,
)
def ml_conformal_interval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval (SURVEY.md §2.11): an md5
    split carves orders into calibration and test; the point predictor
    is the per-priority mean order value fit on calibration only; the
    interval radius q is the ⌈(n_cal+1)·0.9⌉-th smallest calibration
    |residual|; test coverage of ŷ ± q is reported. The conformal
    guarantee — coverage ≥ 90% for exchangeable data, NO distribution
    assumptions — is the modern uncertainty wrapper for any point
    model, and the whole construction is exact integer arithmetic.

    Exactness: cents residuals, rank-statistic radius with
    (r, orderkey) total order, integer coverage counts, one DIV.

    Scale: predictor = bounded groupBy; radius = rank window over the
    calibration slice (TakeOrdered shape); coverage = one broadcast
    comparison pass — no pairwise work anywhere.
    """
    o = load(spark, sf_dir, "orders")
    chash = md5_long(F.concat(F.lit("conf_"), F.col("o_orderkey").cast("string")))
    base = o.select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("y"),
        F.col("o_orderpriority").alias("grp"),
        (chash % CONF_CAL_MOD == 0).alias("is_cal"),
    )
    model = (
        base.where("is_cal")
        .groupBy("grp")
        .agg(F.expr("CAST(SUM(y) DIV count(*) AS BIGINT)").alias("yhat"))
    )
    resid = base.join(F.broadcast(model), "grp").select(
        "o_orderkey", F.abs(F.col("y") - F.col("yhat")).alias("r"), "is_cal"
    )
    # De-globalized rank-k selection (r8; bucket-stitched r10): the
    # conformal quantile only needs the residual VALUE at rank k under
    # the (r, o_orderkey) total order, and rows tying on r share that
    # value — so value-at-rank-k is the least r whose cumulative count
    # reaches k. The distinct-residual histogram is NOT value-domain
    # bounded (cents residuals are near-unique: 4.9k→49.8k rows through
    # one WindowExec task, caught by the grid cardinality tripwire), so
    # the cumsum is the bucket-stitch form: the only single-task window
    # is the 2^16-cents bucket grid (residual range ≤ ~5e7 cents → ≤763
    # buckets at any SF).
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_cumsum,
    )

    rhist = resid.where("is_cal").groupBy("r").agg(F.count("*").alias("c"))
    rcum = bucketed_global_cumsum(
        rhist, "r", [], [("cum", "c")], bucket_bits=16
    ).select("r", "cum")
    n_cal = rhist.agg(F.sum("c").cast("long").alias("n_cal"))
    q = (
        rcum.crossJoin(F.broadcast(n_cal))
        .where(
            F.col("cum")
            >= F.expr(
                f"least(n_cal, ((n_cal + 1) * (100 - {CONF_ALPHA_PCT}) + 99)"
                " DIV 100)"
            )
        )
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.min("r").alias("q_cents"),
        )
        # An empty calibration subset makes the global agg emit one
        # all-NULL row where the old rank-equality filter emitted zero
        # rows; drop it so the downstream crossJoin stays empty (ADVICE r8).
        .where(F.col("q_cents").isNotNull())
    )
    return (
        resid.crossJoin(F.broadcast(q))
        .agg(
            F.max("n_cal").cast("long").alias("n_cal"),
            F.sum(F.when(~F.col("is_cal"), 1).otherwise(0))
            .cast("long")
            .alias("n_test"),
            F.max("q_cents").cast("long").alias("q_cents"),
            F.sum(
                F.when((~F.col("is_cal")) & (F.col("r") <= F.col("q_cents")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN NOT is_cal AND r <= q_cents"
                " THEN 1 ELSE 0 END))"
                " DIV SUM(CASE WHEN NOT is_cal THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("coverage_micro"),
        )
    )
