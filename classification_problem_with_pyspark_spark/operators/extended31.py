"""Round-3 extension pack #31: ANN-bucket label purity and the
Wald-Wolfowitz runs test — exact integer contracts.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — cluster purity for unsupervised bucket quality and the
Wald-Wolfowitz runs test (1940) for sequence randomness — re-expressed
on the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): purity is floor-micro of
exact bucket counts; the runs z² is the exact rational
((R−1)n − 2n₁n₂)²·(n−1) / (2n₁n₂(2n₁n₂−n)) in micro units with the sign
shipped separately.

Scale posture (SURVEY.md §7.6): purity reuses the shared SRP pipeline
plus two bounded bucket groupBys; the runs test runs on the bounded
daily aggregate (~2500 rows on this corpus' order-date span).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.operators.extended24 import (
    SRP_SIG_SQL,
    srp_signatures,
)
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_shift
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "emb_bucket_label_purity",
    oracle=f"""
    WITH {SRP_SIG_SQL},
    buckets AS (
        SELECT signature, label, CAST(count(*) AS BIGINT) AS cnt
        FROM sig GROUP BY signature, label
    ),
    sized AS (
        SELECT signature, CAST(SUM(cnt) AS BIGINT) AS n
        FROM buckets GROUP BY signature HAVING SUM(cnt) >= 2
    ),
    ranked AS (
        SELECT b.signature, b.label, b.cnt,
               row_number() OVER (PARTITION BY b.signature
                                  ORDER BY b.cnt DESC, b.label) AS rn
        FROM buckets b JOIN sized s ON b.signature = s.signature
    )
    SELECT r.signature, s.n AS bucket_size,
           CAST(r.label AS BIGINT) AS top_label,
           r.cnt AS top_n,
           CAST((1000000 * r.cnt) // s.n AS BIGINT) AS purity_micro
    FROM ranked r JOIN sized s ON r.signature = s.signature
    WHERE r.rn = 1
    ORDER BY r.signature
    """,
)
def emb_bucket_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the SRP-LSH buckets (SURVEY.md §2.12 ANN
    family): for every multi-occupant 16-bit SRP bucket, the majority
    label's share — the unsupervised-quality check that tells you
    whether angular LSH buckets align with label structure (purity near
    the global majority share ⇒ the hash is label-blind; purity above
    it ⇒ buckets carry signal a downstream ANN classifier can exploit).
    Reuses the exact shared SRP pipeline of `emb_srp_signature`, so the
    two keys can never drift.

    Exactness: bucket/label counts exact; majority pick is total-order
    deterministic (cnt DESC, label); purity folds floor-micro.

    Scale: two bounded groupBys over the signature space (≤ 2^16 rows)
    after the shared projection pipeline.
    """
    sig = srp_signatures(spark, sf_dir)
    buckets = sig.groupBy("signature", "label").agg(F.count("*").alias("cnt"))
    # r12 optimization (guide §2.4): bucket size n is a sum OVER the same
    # signature partition the rank window already establishes, so the
    # former buckets⋈sized join — which recomputed the whole SRP pipeline
    # on both branches and added a join exchange — collapses into one
    # window pass sharing one (signature)-hash exchange (3.4 s → 2.3 s
    # min at sf0.1; plan: 2 SRP subtrees + join → 1, hash-identical; the
    # HAVING n>=2 filter is the same integer on both forms).
    wp = Window.partitionBy("signature")
    w = Window.partitionBy("signature").orderBy(F.desc("cnt"), "label")
    ranked = (
        buckets.withColumn("n", F.sum("cnt").over(wp))
        .where(F.col("n") >= 2)
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            "signature",
            F.col("n").alias("bucket_size"),
            F.col("label").cast("long").alias("top_label"),
            F.col("cnt").alias("top_n"),
            F.expr("CAST((1000000 * cnt) DIV n AS BIGINT)").alias(
                "purity_micro"
            ),
        )
        .orderBy("signature")
    )


@register(
    "agg_runs_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    med AS (
        SELECT s[(n + 1) // 2] + s[n // 2 + 1] AS median2
        FROM (SELECT list_sort(list(cents)) AS s, count(*) AS n FROM daily) x
    ),
    flagged AS (
        SELECT day, CASE WHEN 2 * cents > median2 THEN 1 ELSE 0 END AS above
        FROM daily, med WHERE 2 * cents != median2
    ),
    runs AS (
        SELECT above,
               CASE WHEN lag(above) OVER (ORDER BY day) IS NULL
                         OR lag(above) OVER (ORDER BY day) != above
                    THEN 1 ELSE 0 END AS new_run
        FROM flagged
    ),
    m AS (
        SELECT CAST(SUM(above) AS BIGINT) AS n1,
               CAST(SUM(1 - above) AS BIGINT) AS n2,
               CAST(SUM(new_run) AS BIGINT) AS r
        FROM runs
    )
    SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
           CAST(CASE WHEN (r - 1) * (n1 + n2) - 2 * n1 * n2 > 0 THEN 1
                     WHEN (r - 1) * (n1 + n2) - 2 * n1 * n2 < 0 THEN -1
                     ELSE 0 END AS BIGINT) AS z_sign,
           CAST(((((r - 1) * (n1 + n2) - 2 * n1 * n2)
                   * ((r - 1) * (n1 + n2) - 2 * n1 * n2)) // (2 * n1 * n2)
                  * (n1 + n2 - 1) * 1000000)
                 // (2 * n1 * n2 - n1 - n2) AS BIGINT) AS z_sq_micro
    FROM m
    """,
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily order revenue (SURVEY.md
    §2.4): is the above/below-median sequence of daily totals random,
    or does it trend/cluster? Fewer runs than expected ⇒ momentum; more
    ⇒ oscillation — the nonparametric randomness check that completes
    the test family (t/U/χ²/z/F) with a SEQUENCE test. Days exactly at
    the median are excluded (standard treatment), decided by the
    integer comparison 2·cents vs median2.

    Exactness: the daily median uses the lo+hi doubled order statistics
    (the Hampel discipline); z² is the rational
    ((R−1)n − 2n₁n₂)²·(n−1) / (2n₁n₂(2n₁n₂−n)) folded as a TWO-STEP
    integer division (d² DIV 2n₁n₂ first — the single-expression form
    crosses 2⁶³ at this corpus' ~2500-day span, the Spearman-pack
    lesson), with the sign separate — no sqrt, no floats.

    Scale: one date-keyed aggregate; the test runs on the bounded
    daily series (~2500 rows here).
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("cents")
    )
    med = daily.agg(
        F.expr("array_sort(collect_list(cents))").alias("s"),
        F.count("*").alias("n"),
    ).select(
        F.expr(
            "element_at(s, CAST((n + 1) DIV 2 AS INT))"
            " + element_at(s, CAST(n DIV 2 + 1 AS INT))"
        ).alias("median2")
    )
    flagged = (
        daily.crossJoin(F.broadcast(med))
        .where(F.expr("2 * cents != median2"))
        .select(
            "day",
            F.expr(
                "CASE WHEN 2 * cents > median2 THEN 1 ELSE 0 END"
            ).alias("above"),
        )
    )
    runs = grid_shift(flagged, ["day"], [("prev_above", "above", -1)]).select(
        "above",
        F.when(
            F.col("prev_above").isNull()
            | (F.col("prev_above") != F.col("above")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    m = runs.agg(
        F.sum("above").alias("n1"),
        F.sum(1 - F.col("above")).alias("n2"),
        F.sum("new_run").alias("r"),
    )
    return m.select(
        F.col("n1").cast("long").alias("n_above"),
        F.col("n2").cast("long").alias("n_below"),
        F.col("r").cast("long").alias("n_runs"),
        F.expr(
            "CAST(CASE WHEN (r - 1) * (n1 + n2) - 2 * n1 * n2 > 0 THEN 1"
            " WHEN (r - 1) * (n1 + n2) - 2 * n1 * n2 < 0 THEN -1"
            " ELSE 0 END AS BIGINT)"
        ).alias("z_sign"),
        F.expr(
            "((((r - 1) * (n1 + n2) - 2 * n1 * n2)"
            " * ((r - 1) * (n1 + n2) - 2 * n1 * n2)) DIV (2 * n1 * n2)"
            " * (n1 + n2 - 1) * 1000000)"
            " DIV (2 * n1 * n2 - n1 - n2)"
        ).alias("z_sq_micro"),
    )
