"""Round-3 extension pack #69: role-playing calendar dimension and the
Matthews correlation coefficient.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — the role-playing date dimension (Kimball: ONE conformed
calendar joined under multiple roles — order date, ship date — so both
roles share attribute definitions by construction) and the Matthews
correlation coefficient (MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)
(TN+FN)), Matthews 1975 — the single-number binary metric that stays
honest under class imbalance where accuracy and F1 both flatter) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): the calendar dim derives
from the dates PRESENT in the fact (no generated spine state), with
integer/boolean attributes only; MCC's confusion counts reuse the
pack-44 deterministic stand-in predictor (binary collapse label < 5),
and the closing formula is one double expression over four exact
integers, ROUND(·,6) — the t-test discipline.

Scale posture (SURVEY.md §7.6): the calendar dim is calendar-bounded
and broadcast into BOTH role joins (the whole point of role-playing:
one tiny conformed table, many cheap joins); MCC is four conditional
counts — one map-side-combinable pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

MCC_FLIP_MOD = 4  # the stand-in predictor flips every 4th row


@register(
    "join_role_playing_calendar",
    oracle="""
    WITH cal AS (
        SELECT d,
               CAST(dayofweek(d) AS BIGINT) AS dow,  -- 0=Sun..6=Sat
               dayofweek(d) IN (0, 6) AS is_weekend
        FROM (
            SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
            UNION
            SELECT DISTINCT CAST(l_shipdate AS DATE) FROM lineitem
        ) dd
    ),
    fact AS (
        SELECT l.l_orderkey, CAST(o.o_orderdate AS DATE) AS od,
               CAST(l.l_shipdate AS DATE) AS sd,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT co.dow AS order_dow, cs.is_weekend AS shipped_weekend,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(f.cents) AS BIGINT) AS cents
    FROM fact f
    JOIN cal co ON co.d = f.od
    JOIN cal cs ON cs.d = f.sd
    GROUP BY co.dow, cs.is_weekend
    ORDER BY order_dow, shipped_weekend
    """,
)
def join_role_playing_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-playing calendar (SURVEY.md §2.3): ONE conformed calendar
    dimension (dates present in the facts, with day-of-week and
    weekend attributes) joined under TWO roles — the order-date role
    and the ship-date role — producing the ordered-on-DOW ×
    shipped-on-weekend matrix. The Kimball pattern that guarantees
    both roles agree on what "weekend" means, because there is only
    one definition to disagree with; the naive alternative (computing
    dow inline at each use site) is exactly how two dashboards end up
    with two weekends.

    DOW numbering is pinned to DuckDB's 0=Sunday..6=Saturday
    convention (Spark's dayofweek is 1=Sunday..7 — normalized in the
    dim build, ONCE, which is the pattern's point).

    Exactness: integer dow, boolean weekend, integer cents.

    Scale: the calendar is calendar-bounded and BROADCAST into both
    role joins — two cheap hash joins against one tiny conformed
    table; the fact is read once.
    """
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.to_date("o_orderdate").alias("od")
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.to_date("l_shipdate").alias("sd"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    dates = o.select(F.col("od").alias("d")).union(
        li.select(F.col("sd").alias("d"))
    ).distinct()
    cal = dates.select(
        "d",
        # normalize Spark's 1=Sun..7 to the dim's 0=Sun..6 convention
        (F.dayofweek("d") - 1).cast("long").alias("dow"),
        ((F.dayofweek("d") == 1) | (F.dayofweek("d") == 7)).alias("is_weekend"),
        # r13 (guide §5): the conformed calendar feeds BOTH role joins;
        # without a checkpoint each broadcast rebuilt the dates-union
        # subtree — two extra scans of each fact per execution. The dim
        # is calendar-bounded (≤ a few thousand rows), the r12
        # bounded-intermediate discipline. Lazy: the first broadcast
        # build materializes it in passing (an eager pin measured +0.3 s
        # of construction-job scheduling for no exec win locally).
    ).localCheckpoint(eager=False)
    fact = li.join(o, "k")
    co = cal.select(F.col("d").alias("od"), F.col("dow").alias("order_dow"))
    cs = cal.select(
        F.col("d").alias("sd"), F.col("is_weekend").alias("shipped_weekend")
    )
    return (
        fact.join(F.broadcast(co), "od")
        .join(F.broadcast(cs), "sd")
        .groupBy("order_dow", "shipped_weekend")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("order_dow", "shipped_weekend")
    )


@register(
    "ml_mcc_exact",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               CASE WHEN CAST(('0x' || substr(md5('mcc_' || CAST(vec_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % {MCC_FLIP_MOD} = 0
                    THEN 1 - CASE WHEN label < 5 THEN 1 ELSE 0 END
                    ELSE CASE WHEN label < 5 THEN 1 ELSE 0 END END AS yhat
        FROM embeddings
    ),
    cm AS (
        SELECT CAST(SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
               CAST(SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM scored
    )
    SELECT tp, tn, fp, fn,
           CAST((1000000 * (tp + tn)) // (tp + tn + fp + fn) AS BIGINT)
               AS accuracy_micro,
           ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
                        * (CAST(tn AS DOUBLE) + fp) * (CAST(tn AS DOUBLE) + fn)),
                 6) AS mcc
    FROM cm
    """,
)
def ml_mcc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient (SURVEY.md §2.11): the
    single-number binary metric computed from the full confusion
    matrix — MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)) —
    which, unlike accuracy and F1, cannot be gamed by predicting the
    majority class under imbalance (Matthews 1975; Chicco & Jurman's
    "advantages of MCC" is the modern case). Reported next to
    accuracy on the SAME confusion counts so the tests can assert the
    divergence story (MCC strictly below the accuracy impression).

    The predictor is the registry's md5 stand-in (binary collapse
    label < 5, every {MCC_FLIP_MOD}th row flipped); the four counts
    are exact integers and the closing formula is one double
    expression ROUND(·,6) — the t-test discipline.

    Scale: four conditional sums in one map-side-combinable pass;
    the metric costs nothing, which is the argument for always
    reporting it.
    """
    y = F.when(F.col("label") < 5, 1).otherwise(0)
    flip = md5_long(F.concat(F.lit("mcc_"), F.col("vec_id").cast("string"))) % MCC_FLIP_MOD == 0
    yhat = F.when(flip, 1 - y).otherwise(y)
    scored = load(spark, sf_dir, "embeddings").select(
        y.alias("y"), yhat.alias("yhat")
    )
    cm = scored.agg(
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    )
    return cm.select(
        "tp",
        "tn",
        "fp",
        "fn",
        F.expr(
            "CAST((1000000 * (tp + tn)) DIV (tp + tn + fp + fn) AS BIGINT)"
        ).alias("accuracy_micro"),
        F.round(
            (
                F.col("tp").cast("double") * F.col("tn")
                - F.col("fp").cast("double") * F.col("fn")
            )
            / F.sqrt(
                (F.col("tp").cast("double") + F.col("fp"))
                * (F.col("tp").cast("double") + F.col("fn"))
                * (F.col("tn").cast("double") + F.col("fp"))
                * (F.col("tn").cast("double") + F.col("fn"))
            ),
            6,
        ).alias("mcc"),
    )
