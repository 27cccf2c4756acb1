"""Round-3 extension pack #54: write-audit-publish sink and
chain-ladder cohort development factors.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — the Write-Audit-Publish pattern (stage the output, gate it
on data-quality audits, atomically publish only if they pass; the
Iceberg/Netflix WAP workflow every governed lakehouse pipeline runs)
and the chain-ladder development triangle (the actuarial
cohort-development estimator — cumulative cohort value at successive
lags and the age-to-age factors that project the open cohorts; Mack,
ASTIN 1993) — re-expressed on the public PySpark DataFrame API over
the driver's testdata.

Hash-parity discipline (round-3 standard): the WAP audit gates are
exact integer equalities (row count, null keys, cents conservation)
and the published relation is restated by the oracle from the base
table; the triangle is a dense (cohort × lag) grid with coalesce-0
fill, cumulative sums, and an explicit observability cutoff — every
cell an exact integer, factors floor-micro.

Scale posture (SURVEY.md §7.6): WAP's audits are aggregates over the
STAGED output (one scan) and publishing is a metadata move (directory
rename here; snapshot commit on Iceberg) — the audit never blocks on a
second copy of the data; the triangle is two shuffles (user-min, then
cohort-cell aggregation) over a grid bounded by the calendar square,
independent of fact volume.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, stage_dir


@register(
    "sink_write_audit_publish",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           TRUE AS audit_rowcount_ok,
           TRUE AS audit_nullkey_ok,
           TRUE AS audit_conservation_ok
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY status
    """,
)
def sink_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (SURVEY.md §2.2): stage the orders
    projection as parquet, run three audits against the STAGED copy —
    row-count parity with the source, zero null keys, exact cents
    conservation — and only then atomically publish (directory rename;
    the file-system stand-in for an Iceberg snapshot commit). The
    returned relation is the per-status summary read FROM THE
    PUBLISHED COPY, carrying the audit verdicts; the oracle restates
    it from the base table, so a silent corruption anywhere in
    stage→audit→publish→read breaks the hash. A failed audit raises —
    publishing bad data is the one thing this pattern exists to make
    impossible.

    Exactness: all three gates are integer equalities on exact cents.

    Scale: the audits are one aggregate scan of the staged output
    (already-written data, no second copy); publish is a metadata
    operation (rename / snapshot swap), so the gate adds one scan +
    zero data movement to the pipeline — which is why WAP is the
    default governance shape at 100 TB rather than a luxury.
    """
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    root = stage_dir("wap")
    stage = os.path.join(root, "stage")
    published = os.path.join(root, "published")
    base.write.mode("overwrite").parquet(stage)

    staged = spark.read.parquet(stage)
    src_n, src_cents = base.agg(
        F.count("*"), F.sum("cents")
    ).collect()[0]
    stg_n, stg_cents, stg_nullkeys = staged.agg(
        F.count("*"),
        F.sum("cents"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)),
    ).collect()[0]
    rowcount_ok = src_n == stg_n
    nullkey_ok = stg_nullkeys == 0
    conservation_ok = src_cents == stg_cents
    if not (rowcount_ok and nullkey_ok and conservation_ok):
        raise RuntimeError(
            f"WAP audit failed: rowcount={rowcount_ok} nullkey={nullkey_ok} "
            f"conservation={conservation_ok} — refusing to publish"
        )
    os.rename(stage, published)  # the atomic publish

    return (
        spark.read.parquet(published)
        .groupBy("status")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "status",
            "n_orders",
            "cents",
            F.lit(rowcount_ok).alias("audit_rowcount_ok"),
            F.lit(nullkey_ok).alias("audit_nullkey_ok"),
            F.lit(conservation_ok).alias("audit_conservation_ok"),
        )
        .orderBy("status")
    )


@register(
    "agg_chain_ladder_development",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    cohorts AS (
        SELECT user_id, MIN(d) AS cohort_d FROM ev GROUP BY user_id
    ),
    bounds AS (
        SELECT MAX(d) AS max_d, MAX(datediff('day', c.cohort_d, e.d)) AS max_lag
        FROM ev e JOIN cohorts c ON c.user_id = e.user_id
    ),
    cells AS (  -- incremental triangle
        SELECT c.cohort_d, datediff('day', c.cohort_d, e.d) AS lag,
               CAST(SUM(e.cents) AS BIGINT) AS inc
        FROM ev e JOIN cohorts c ON c.user_id = e.user_id
        GROUP BY c.cohort_d, datediff('day', c.cohort_d, e.d)
    ),
    grid AS (  -- dense (cohort × lag) with zero fill, then cumulative
        SELECT co.cohort_d, l.lag,
               CAST(SUM(COALESCE(ce.inc, 0)) OVER (
                   PARTITION BY co.cohort_d ORDER BY l.lag
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM (SELECT DISTINCT cohort_d FROM cells) co
        CROSS JOIN (SELECT unnest(range(0, (SELECT max_lag + 1 FROM bounds)))
                    AS lag) l
        LEFT JOIN cells ce
               ON ce.cohort_d = co.cohort_d AND ce.lag = l.lag
    ),
    pairs AS (  -- age-to-age over cohorts observable at lag+1
        SELECT g0.lag,
               CAST(COUNT(*) AS BIGINT) AS n_cohorts,
               CAST(SUM(g0.cum) AS BIGINT) AS cum_at_lag,
               CAST(SUM(g1.cum) AS BIGINT) AS cum_at_next
        FROM grid g0
        JOIN grid g1 ON g1.cohort_d = g0.cohort_d AND g1.lag = g0.lag + 1
        CROSS JOIN bounds b
        WHERE g0.cohort_d + to_days(CAST(g0.lag + 1 AS INTEGER)) <= b.max_d
        GROUP BY g0.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_cohorts, cum_at_lag, cum_at_next,
           CAST((1000000 * cum_at_next) // cum_at_lag AS BIGINT)
               AS factor_micro
    FROM pairs
    ORDER BY lag
    """,
)
def agg_chain_ladder_development(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-ladder development factors (SURVEY.md §2.4): build the
    cohort development triangle — users cohorted by first-seen day,
    cumulative cohort cents at each day lag — and compute the
    age-to-age factors f_L = Σ cum_{L+1} / Σ cum_L over exactly the
    cohorts OBSERVABLE at lag L+1 (cohort day + L+1 ≤ data edge).
    The actuarial estimator (Mack 1993) behind every "where will the
    open cohorts end up" projection: LTV forecasting runs this same
    triangle with revenue, claims reserving with payments. The
    observability cutoff is the method's whole subtlety — including a
    censored cohort in a factor deflates it — and it is pinned as an
    explicit predicate, not an implicit join artifact.

    The triangle is DENSE (cohort × lag cross join, zero-filled)
    because cumulative development must carry through lags with no
    activity; both engines fill and cum identically by construction.

    Exactness: integer cents; factors floor-micro.

    Scale: two key shuffles (user-min, then cohort-cell aggregation);
    the dense grid is |cohorts| × |lags| — calendar-bounded, not
    fact-bounded — so the triangle costs the same at 100 TB as at
    sf0.01 once the cells are reduced.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    cohorts = ev.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    # r12 optimization (guide §5/§2.4): the before-plan re-derived the
    # ev⋈cohorts join for the bounds aggregate, the cells, the cohort
    # list AND both sides of the g0⋈g1 factor self-join (14 events
    # scans, 139 nodes). cells is the calendar-bounded cohort×lag
    # triangle — one checkpoint makes it ONE fact join; the bounds fold
    # over cells' keys (same (cohort_d, lag) set as joined, so the same
    # maxima), and the age-to-age pairing is lead(cum) over the SAME
    # dense per-cohort window instead of a self-join (1.3 s -> ~0.6 s).
    cells = (
        ev.join(cohorts, "user_id")
        .select("cohort_d", F.datediff("d", "cohort_d").alias("lag"), "cents")
        .groupBy("cohort_d", "lag")
        .agg(F.sum("cents").cast("long").alias("inc"))
        .localCheckpoint(eager=False)
    )
    bounds = cells.agg(
        F.max(F.expr("date_add(cohort_d, lag)")).alias("max_d"),
        F.max("lag").alias("max_lag"),
    )
    co = cells.select("cohort_d").distinct()
    lags = (
        co.crossJoin(F.broadcast(bounds.select("max_lag")))
        .select("cohort_d", F.explode(F.sequence(F.lit(0), F.col("max_lag"))).alias("lag"))
    )
    w_cum = (
        Window.partitionBy("cohort_d")
        .orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_ord = Window.partitionBy("cohort_d").orderBy("lag")
    grid = (
        lags.join(cells, ["cohort_d", "lag"], "left")
        .select(
            "cohort_d",
            "lag",
            F.sum(F.coalesce("inc", F.lit(0))).over(w_cum).cast("long").alias("cum"),
        )
    )
    # dense grid ⇒ lead(cum) at lag L IS the former g1 row at lag L+1;
    # the join keys matched exactly the non-terminal lags, which is the
    # lead-not-null set
    paired = grid.select(
        "cohort_d",
        "lag",
        F.col("cum").alias("cum0"),
        F.lead("cum").over(w_ord).alias("cum1"),
    ).where(F.col("cum1").isNotNull())
    return (
        paired
        .crossJoin(F.broadcast(bounds.select("max_d")))
        .where(F.expr("date_add(cohort_d, lag + 1) <= max_d"))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_cohorts"),
            F.sum("cum0").cast("long").alias("cum_at_lag"),
            F.sum("cum1").cast("long").alias("cum_at_next"),
        )
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_cohorts",
            "cum_at_lag",
            "cum_at_next",
            F.expr(
                "CAST((1000000 * cum_at_next) DIV cum_at_lag AS BIGINT)"
            ).alias("factor_micro"),
        )
        .orderBy("lag")
    )
