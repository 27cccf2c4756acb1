"""Round-3 extension pack #58: ABC-XYZ inventory classification and the
sample-ratio-mismatch (SRM) guardrail.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — ABC-XYZ analysis (the supply-chain planning matrix: Pareto
revenue classes A/B/C crossed with demand-variability classes X/Y/Z by
coefficient of variation) and the sample-ratio-mismatch check (the
experimentation-platform guardrail: a chi-square on observed arm counts
against the design split, run before ANY metric is read — Fabijan et
al., "Diagnosing sample ratio mismatch", KDD 2019) — re-expressed on
the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): ABC classes cut on
floor-micro cumulative revenue shares under the (revenue DESC,
partkey) total order; XYZ classes compare the EXACT integer CV² form
1e6·(nQ−S²)/S² against micro thresholds (no square roots — comparing
CV² to t² is the same decision as CV to t, in pure integers); SRM arms
are md5-assigned and the chi-square statistic (n1−n2)²/(n1+n2) folds
one floor-micro division.

Scale posture (SURVEY.md §7.6): ABC needs one part-level aggregate and
one global-ordered cumulative window over |parts| rows (dim-sized, not
fact-sized); XYZ is a second map-side-combinable moment pass; SRM is a
pure count — the guardrail is cheap by design because it must run on
every experiment every day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.plans.global_rank import (
    bucketed_global_cumsum,
)
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

ABC_A_MICRO = 700_000  # cumulative share cuts: A ≤ 70%, B ≤ 90%, C rest
ABC_B_MICRO = 900_000
XYZ_X_CV2_MICRO = 250_000  # CV ≤ 0.5  → X
XYZ_Y_CV2_MICRO = 1_000_000  # CV ≤ 1.0 → Y, else Z
SRM_ALERT_MICRO = 3_841_459  # χ²₁ 95% critical value (3.841459) in micro


@register(
    "agg_abc_xyz_classification",
    oracle=f"""
    WITH per_part AS (
        SELECT l_partkey AS part,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                    AS BIGINT) AS q
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT *,
               SUM(rev) OVER (ORDER BY rev DESC, part
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum_rev,
               SUM(rev) OVER () AS tot_rev
        FROM per_part
    ),
    classed AS (
        SELECT part, rev, n, s, q,
               CASE WHEN (1000000 * cum_rev) // tot_rev <= {ABC_A_MICRO}
                    THEN 'A'
                    WHEN (1000000 * cum_rev) // tot_rev <= {ABC_B_MICRO}
                    THEN 'B' ELSE 'C' END AS abc,
               CASE WHEN (1000000 * (n * q - s * s)) // (s * s)
                         <= {XYZ_X_CV2_MICRO} THEN 'X'
                    WHEN (1000000 * (n * q - s * s)) // (s * s)
                         <= {XYZ_Y_CV2_MICRO} THEN 'Y'
                    ELSE 'Z' END AS xyz
        FROM ranked
    )
    SELECT abc, xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS BIGINT) AS revenue_cents
    FROM classed
    GROUP BY abc, xyz
    ORDER BY abc, xyz
    """,
)
def agg_abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ classification (SURVEY.md §2.4): the supply-chain
    planning matrix — parts Pareto-classed by cumulative revenue share
    (A ≤ 70%, B ≤ 90%, C the tail, under the (revenue DESC, partkey)
    total order) crossed with demand-variability classes from the
    per-part quantity CV (X ≤ 0.5, Y ≤ 1.0, Z beyond). AX parts get
    safety stock, CZ parts get make-to-order — the 9-cell census IS
    the planning policy input.

    The CV threshold compares the EXACT integer CV² form
    1e6·(nQ−S²)/S² against squared cuts — deciding CV ≤ t via CV² ≤ t²
    needs no square root and therefore no float; the Pareto cut is a
    floor-micro cumulative share. Every class boundary is an integer
    comparison both engines replay bit-identically.

    Scale: one fact aggregate to |parts| rows, then the cumulative
    revenue as a BUCKET-STITCH running sum (r9: parts grow with SF, so
    even the |parts| window must not be one task) and a 9-row census.
    r11 (VERDICT r10 #2): per-part REVENUE magnitude grows with data
    volume, so fixed 2^16-cent buckets grew the grid with SF
    (1.2k→2.6k per decade) — the bucketing is now RANGE-NORMALIZED
    (value_range_k: fixed 1024 buckets over the broadcast min/max,
    exact long arithmetic — K chosen so occupancy saturates by sf0.01
    and the worst bucket holds ~0.45% of parts, an SF-stable share),
    keeping the only single-task window ≤1k rows at any scale; the
    per-part running sum stays hash-partitioned by bucket.
    """
    per_part = load(spark, sf_dir, "lineitem").groupBy(
        F.col("l_partkey").alias("part")
    ).agg(
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("rev"),
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("s"),
        F.sum(F.col("l_quantity").cast("long") * F.col("l_quantity").cast("long"))
        .cast("long")
        .alias("q"),
    )
    tot = per_part.agg(F.sum("rev").alias("tot_rev"))
    ranked = bucketed_global_cumsum(
        per_part.crossJoin(F.broadcast(tot)),
        "rev",
        ["part"],
        [("cum_rev", "rev")],
        descending=True,
        value_range_k=1024,
    )
    share = F.expr("(1000000 * cum_rev) DIV tot_rev")
    cv2 = F.expr("(1000000 * (n * q - s * s)) DIV (s * s)")
    classed = ranked.select(
        "rev",
        F.when(share <= ABC_A_MICRO, "A")
        .when(share <= ABC_B_MICRO, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(cv2 <= XYZ_X_CV2_MICRO, "X")
        .when(cv2 <= XYZ_Y_CV2_MICRO, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev").cast("long").alias("revenue_cents"),
        )
        .orderBy("abc", "xyz")
    )


@register(
    "events_srm_check",
    oracle=f"""
    WITH assigned AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(('0x' || substr(md5('arm_' || CAST(event_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 2 AS arm
        FROM events
    ),
    daily AS (
        SELECT d,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM assigned GROUP BY d
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, n0, n1,
           CAST((1000000 * (n0 - n1) * (n0 - n1)) // (n0 + n1) AS BIGINT)
               AS chi2_micro,
           (1000000 * (n0 - n1) * (n0 - n1)) // (n0 + n1)
               > {SRM_ALERT_MICRO} AS srm_alert
    FROM daily
    ORDER BY day
    """,
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (SURVEY.md §2.4): events are
    md5-assigned to two arms at a designed 50/50 split; per day, the
    one-degree chi-square (n0−n1)²/(n0+n1) against the design ratio,
    with the alert flag at the 95% critical value — the check every
    experimentation platform runs BEFORE reading any metric, because
    assignment bugs (bot filtering one arm, redirect losses,
    triggering skew) silently bias everything downstream (Fabijan et
    al., KDD 2019). The per-day breakdown is the localization view:
    an SRM that starts mid-experiment points at a deploy.

    Exactness: counts and one floor-micro division; the critical
    value enters as a micro-integer literal, so the flag is an
    integer comparison (no chi-square CDF evaluation needed for the
    fixed 1-dof, α=5% gate).

    Scale: a pure count by (day, arm) — map-side combinable, shuffle
    O(days). Guardrails must be this cheap or they don't run.
    """
    arm = md5_long(F.concat(F.lit("arm_"), F.col("event_id").cast("string"))) % 2
    daily = (
        load(spark, sf_dir, "events")
        .select(F.to_date(F.date_trunc("day", "ts")).alias("d"), arm.alias("arm"))
        .groupBy("d")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n1"),
        )
    )
    chi2 = F.expr("(1000000 * (n0 - n1) * (n0 - n1)) DIV (n0 + n1)")
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n0",
        "n1",
        chi2.alias("chi2_micro"),
        (chi2 > SRM_ALERT_MICRO).alias("srm_alert"),
    ).orderBy("day")
