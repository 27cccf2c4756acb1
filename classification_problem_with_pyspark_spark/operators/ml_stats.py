"""Exact statistics of the ML workflow (SURVEY.md §2.11): the fitted
parameters, drift and stability scores, inference and encodings a
classification notebook computes around its models — scaler parameters,
Kendall's τ, PSI, split-conformal intervals, feature-hashing collisions,
leave-one-out target encoding, OLS inference and Bradley-Terry strengths
— as hash-checked contracts.

Provenance note (SURVEY.md §0): /root/reference was EMPTY when these keys
were written; no file:line citations into it are possible. Each statistic
is public knowledge — the min-max/standard/robust scalers, Kendall's τ
(1938), the population stability index, split-conformal prediction
(Vovk et al.), the hashing trick (Weinberger et al. 2009), leave-one-out
target encoding (Micci-Barreca 2001), OLS slope inference and the
Bradley–Terry model fitted by MM (Hunter 2004) — re-expressed on the
public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline: counts, ranks and sums are exact integers or
exact DECIMAL moments; ratios fold as floor-micro (1e6-scaled BIGINT)
divisions, and a closing double formula is ROUND(·, 6) on both sides.
Where a statistic needs an order statistic or a rank over an
entity-sized relation, it uses the bounded-grid and bucket-stitch
helpers (``plans/``), so no window runs the whole relation in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.plans.global_rank import bucketed_global_cumsum
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

TAU_SPLIT = "1998-01-01"
PSI_SPLIT = "1997-06-01"
PSI_BINS = 10
CONF_ALPHA_PCT = 10  # 90% target coverage
CONF_CAL_MOD = 3  # every 3rd order (by md5) calibrates; rest is test
HASH_BITS = 10  # feature-hashing buckets = 2^10 = 1024
Z95 = 1.959964  # normal 95% critical value (shared literal)
BT_MATCH_MOD = 3  # doc pairs (i, i + stride) with md5 % 3 == 0 are matches
BT_ITERS = 6


@register(
    "ml_feature_scaling_suite",
    oracle="""
    WITH v AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    ranked AS (
        SELECT event_type, c,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
    ),
    stats AS (
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(MIN(c) AS BIGINT) AS min_c,
               CAST(MAX(c) AS BIGINT) AS max_c,
               CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN c END) AS BIGINT)
                   AS median_c,
               CAST(MAX(CASE WHEN rn = (n + 3) // 4 THEN c END) AS BIGINT)
                   AS q1_c,
               CAST(MAX(CASE WHEN rn = (3 * n + 1) // 4 THEN c END)
                    AS BIGINT) AS q3_c,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS q
        FROM ranked GROUP BY event_type
    )
    SELECT event_type, n, min_c, max_c, median_c,
           CAST(q3_c - q1_c AS BIGINT) AS iqr_c,
           ROUND(CAST(s AS DOUBLE) / n, 6) AS mean_c,
           ROUND(sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                      / (n - 1)), 6) AS sd_c
    FROM stats
    ORDER BY event_type
    """,
)
def ml_feature_scaling_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-scaling parameters (SURVEY.md §2.11): per event type,
    the fitted parameters of the three standard scalers — min/max
    (MinMaxScaler), mean/sd (StandardScaler, sample σ), and
    median/IQR (RobustScaler, with the registry's pinned rank
    conventions from `agg_boxplot_fences`) — as ONE relation. The
    PARAMETERS are the deliverable because that is what a
    preprocessing pipeline persists and serves (the scaled rows are a
    broadcast expression away); fitting them per group is the
    group-aware scaling that per-global fitting silently gets wrong
    on mixed populations.

    Exactness: integer cents; rank-convention order statistics; the
    only doubles are the mean/sd closes, ROUND-6.

    Scale: one rank window + one moment pass per group — scaler
    fitting at 100 TB is exactly this, once, persisted.
    """
    v = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    w_rn = Window.partitionBy("event_type").orderBy("c", "event_id")
    w_n = Window.partitionBy("event_type")
    ranked = v.select(
        "event_type",
        "c",
        F.row_number().over(w_rn).alias("rn"),
        F.count("*").over(w_n).alias("n"),
    )
    stats = ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.min("c").cast("long").alias("min_c"),
        F.max("c").cast("long").alias("max_c"),
        F.max(F.expr("CASE WHEN rn = (n + 1) DIV 2 THEN c END"))
        .cast("long")
        .alias("median_c"),
        F.max(F.expr("CASE WHEN rn = (n + 3) DIV 4 THEN c END"))
        .cast("long")
        .alias("q1_c"),
        F.max(F.expr("CASE WHEN rn = (3 * n + 1) DIV 4 THEN c END"))
        .cast("long")
        .alias("q3_c"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
    )
    return stats.select(
        "event_type",
        "n",
        "min_c",
        "max_c",
        "median_c",
        (F.col("q3_c") - F.col("q1_c")).cast("long").alias("iqr_c"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("mean_c"),
        F.round(
            F.sqrt(
                (
                    F.col("q").cast("double")
                    - F.col("s").cast("double") * F.col("s") / F.col("n")
                )
                / (F.col("n") - 1)
            ),
            6,
        ).alias("sd_c"),
    ).orderBy("event_type")


@register(
    "ml_kendall_tau_rank_stability",
    oracle=f"""
    WITH sales AS (
        SELECT l_partkey AS part,
               CASE WHEN l_shipdate < TIMESTAMP '{TAU_SPLIT}' THEN 0
                    ELSE 1 END AS period,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem
        GROUP BY l_partkey, CASE WHEN l_shipdate < TIMESTAMP '{TAU_SPLIT}'
                                 THEN 0 ELSE 1 END
    ),
    both_t AS (
        SELECT p0.part, p0.rev AS r0, p1.rev AS r1
        FROM (SELECT * FROM sales WHERE period = 0) p0
        JOIN (SELECT * FROM sales WHERE period = 1) p1 ON p1.part = p0.part
    ),
    pairs AS (
        SELECT CASE WHEN (a.r0 - b.r0) * (a.r1 - b.r1) > 0 THEN 1 ELSE 0 END
                   AS conc,
               CASE WHEN (a.r0 - b.r0) * (a.r1 - b.r1) < 0 THEN 1 ELSE 0 END
                   AS disc
        FROM both_t a JOIN both_t b ON b.part > a.part
    )
    SELECT
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(conc) AS BIGINT) AS concordant,
        CAST(SUM(disc) AS BIGINT) AS discordant,
        CAST(COUNT(*) - SUM(conc) - SUM(disc) AS BIGINT) AS tied,
        CAST((1000000 * (SUM(conc) - SUM(disc))) // COUNT(*) AS BIGINT)
            AS tau_micro
    FROM pairs
    """,
)
def ml_kendall_tau_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ rank stability (SURVEY.md §2.11): the concordant-
    minus-discordant pair correlation between each part's period-1
    and period-2 revenue orders — the SCALAR summary of the question
    `window_decile_migration_matrix` answers as a table (τ near 0 =
    ranks reshuffle, near 1 = sticky; on this fixture the migration
    matrix showed near-independence and τ quantifies it). τ-a with
    the tie count reported; sign products decide concordance in exact
    integers, one floor-micro close.

    Exactness: integer revenue sign products (magnitudes ≲ rev² —
    inside int64 at sf0.01/0.1; the docstring arithmetic is the
    standing discipline). The oracle states the definition as the
    O(n²) pair join; the Spark side computes the IDENTICAL counts by
    grid decomposition (below), verified hash-equal — exactness is
    bucketing-independent because any value-disjoint bucketing that
    co-buckets equal values preserves strict pair order across
    buckets.

    Scale (round-4 rewrite, measured 40.8 s → see BENCH_COVERAGE):
    the naive pair join is O(n²) — 200 M pairs at sf0.1 made it the
    single most expensive key in the sweep. Grid decomposition with
    G=256 fixed-width value buckets per axis splits the pairs into
    three exact classes:
      1. different bucket on BOTH axes — concordance is decided by
         bucket ids alone (buckets are value-disjoint ranges), so the
         class reduces to 2-D dominance counting over the G×G cell-
         count grid: cumulative-sum windows over 65k dense cells,
         Σ C·A (below-right = concordant) and Σ C·D (below-left =
         discordant). No row pairs materialize at all.
      2. same r0-bucket — exact sign products over a bucket-id
         equi-join: Σ c_i² ≈ n²/G pairs.
      3. same r1-bucket, different r0-bucket — symmetric equi-join.
    Total pair work drops n² → n²/G + G² with no approximation; at
    larger n, raise G ~ √n (cells stay the bounded side) or recurse
    the same decomposition inside hot buckets.
    """
    G = 256
    li = load(spark, sf_dir, "lineitem")
    sales = (
        li.select(
            F.col("l_partkey").alias("part"),
            F.when(F.col("l_shipdate") < TAU_SPLIT, 0).otherwise(1).alias("period"),
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("part", "period")
        .agg(F.sum("c").cast("long").alias("rev"))
    )
    p0 = sales.where(F.col("period") == 0).select("part", F.col("rev").alias("r0"))
    p1 = sales.where(F.col("period") == 1).select("part", F.col("rev").alias("r1"))
    both = p0.join(p1, "part").localCheckpoint(eager=True)

    # Fixed-width value buckets: equal values share a bucket, bucket
    # ranges are disjoint — the two properties the decomposition needs.
    # Skew only affects intra-bucket join size, never correctness.
    bounds = both.agg(
        F.min("r0").alias("lo0"),
        F.max("r0").alias("hi0"),
        F.min("r1").alias("lo1"),
        F.max("r1").alias("hi1"),
        F.count("*").alias("n"),
    )

    def bucket(col: str, lo: str, hi: str):
        span = F.greatest(F.lit(1).cast("long"), F.col(hi) - F.col(lo) + 1)
        return F.least(
            F.lit(G - 1).cast("long"),
            ((F.col(col) - F.col(lo)) * G / span).cast("long"),
        )

    b = (
        both.crossJoin(F.broadcast(bounds))
        .select(
            "part",
            "r0",
            "r1",
            bucket("r0", "lo0", "hi0").alias("i"),
            bucket("r1", "lo1", "hi1").alias("j"),
        )
        .localCheckpoint(eager=True)
    )

    # --- class 1: different bucket on both axes, via 2-D dominance on
    # the dense G×G grid (65k cells — bounded regardless of n).
    cells = b.groupBy("i", "j").agg(F.count("*").cast("long").alias("c"))
    grid = (
        spark.range(G)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(G).select(F.col("id").alias("j")))
    )
    C = grid.join(cells, ["i", "j"], "left").select(
        "i", "j", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    w_row = Window.partitionBy("i").orderBy("j").rowsBetween(Window.unboundedPreceding, 0)
    w_col_le = Window.partitionBy("j").orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    w_col_all = Window.partitionBy("j")
    w_row_all = Window.partitionBy("i")
    w_row_lag = Window.partitionBy("i").orderBy("j")
    g1 = C.withColumn("rowcum", F.sum("c").over(w_row))
    # Σ_{i'>i} rowcum[i'][j]  (strictly-below rows, cols ≤ j)
    g1 = g1.withColumn(
        "below_le", F.sum("rowcum").over(w_col_all) - F.sum("rowcum").over(w_col_le)
    )
    # Σ_{i'>i} rowtot[i']  = below_le at the last column of this row
    g1 = g1.withColumn(
        "tot_below",
        F.max(F.when(F.col("j") == G - 1, F.col("below_le"))).over(w_row_all),
    )
    g1 = g1.withColumn(
        "disc_d", F.coalesce(F.lag("below_le").over(w_row_lag), F.lit(0))
    ).withColumn("conc_a", F.col("tot_below") - F.col("below_le"))
    grid_part = g1.agg(
        F.sum(F.col("c") * F.col("conc_a")).cast("long").alias("conc"),
        F.sum(F.col("c") * F.col("disc_d")).cast("long").alias("disc"),
    )

    # --- classes 2 & 3: exact sign products inside one bucket strip.
    ra = b.select(
        F.col("part").alias("pa"),
        F.col("i").alias("ia"),
        F.col("j").alias("ja"),
        F.col("r0").alias("a0"),
        F.col("r1").alias("a1"),
    )
    rb = b.select(
        F.col("part").alias("pb"),
        F.col("i").alias("ib"),
        F.col("j").alias("jb"),
        F.col("r0").alias("b0"),
        F.col("r1").alias("b1"),
    )
    prod = (F.col("a0") - F.col("b0")) * (F.col("a1") - F.col("b1"))
    same_i = ra.join(
        rb, (F.col("ia") == F.col("ib")) & (F.col("pb") > F.col("pa"))
    ).select(
        F.when(prod > 0, 1).otherwise(0).alias("conc"),
        F.when(prod < 0, 1).otherwise(0).alias("disc"),
    )
    same_j = ra.join(
        rb,
        (F.col("ja") == F.col("jb"))
        & (F.col("ia") != F.col("ib"))
        & (F.col("pb") > F.col("pa")),
    ).select(
        F.when(prod > 0, 1).otherwise(0).alias("conc"),
        F.when(prod < 0, 1).otherwise(0).alias("disc"),
    )
    strip_part = same_i.unionAll(same_j).agg(
        F.coalesce(F.sum("conc"), F.lit(0)).cast("long").alias("conc"),
        F.coalesce(F.sum("disc"), F.lit(0)).cast("long").alias("disc"),
    )

    totals = grid_part.unionAll(strip_part).agg(
        F.sum("conc").cast("long").alias("concordant"),
        F.sum("disc").cast("long").alias("discordant"),
    )
    return (
        totals.crossJoin(F.broadcast(bounds.select("n")))
        .select(
            F.expr("CAST(n * (n - 1) DIV 2 AS BIGINT)").alias("n_pairs"),
            "concordant",
            "discordant",
            F.expr(
                "CAST(n * (n - 1) DIV 2 - concordant - discordant AS BIGINT)"
            ).alias("tied"),
            F.expr(
                "CAST((1000000 * (concordant - discordant)) DIV (n * (n - 1) DIV 2)"
                " AS BIGINT)"
            ).alias("tau_micro"),
        )
    )


@register(
    "ml_psi_feature_stability",
    oracle=f"""
    WITH folded AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o_orderdate < TIMESTAMP '{PSI_SPLIT}' THEN 0
                    ELSE 1 END AS period
        FROM orders
    ),
    ref AS (SELECT cents FROM folded WHERE period = 0),
    hist AS (
        SELECT cents, count(*) AS c,
               SUM(count(*)) OVER (ORDER BY cents
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM ref GROUP BY cents
    ),
    na_t AS (SELECT CAST(count(*) AS BIGINT) AS na FROM ref),
    edges AS (
        SELECT k,
               (SELECT min(cents) FROM hist, na_t
                WHERE cum >= (na * k + {PSI_BINS} - 1) // {PSI_BINS}) AS e
        FROM (SELECT unnest(range(1, {PSI_BINS})) AS k)
    ),
    binned AS (
        SELECT f.period,
               (SELECT count(*) FROM edges WHERE f.cents > edges.e) AS bin
        FROM folded f
    ),
    counts AS (
        SELECT bin,
               SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS cb
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
        FROM counts
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(ca AS BIGINT) AS n_ref,
           CAST(cb AS BIGINT) AS n_cur,
           CAST((1000000 * ca) // na AS BIGINT) AS share_ref_micro,
           CAST((1000000 * cb) // nb AS BIGINT) AS share_cur_micro,
           CAST(round(1000000 *
                (CAST(greatest(ca, 1) AS DOUBLE) / na
                 - CAST(greatest(cb, 1) AS DOUBLE) / nb)
                * ln((CAST(greatest(ca, 1) AS DOUBLE) / na)
                     / (CAST(greatest(cb, 1) AS DOUBLE) / nb)))
                AS BIGINT) AS psi_term_micro
    FROM counts, tot
    ORDER BY bin
    """,
)
def ml_psi_feature_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index by reference decile (SURVEY.md §2.11):
    decile edges come from the PRE-{PSI_SPLIT} order-value distribution
    (exact order statistics of the cents histogram); both periods are
    binned against those fixed edges and each bin contributes
    (p_ref − p_cur)·ln(p_ref/p_cur) — the PSI drift score model-
    monitoring systems alarm on (rule of thumb: Σ < 0.1 stable, > 0.25
    shifted). Per-bin terms are emitted so the drifted segments are
    visible, not just the scalar; zero-count bins clamp to 1 (the
    standard ε floor) before the log.

    Exactness: edges and counts are exact integers; shares fold floor-
    micro; only the 10 ln() terms are doubles, each rounded to
    micro-nats independently (entropy-key discipline — no float SUM
    crosses engines).

    Scale: the edge scan is the bucket-stitch cumsum over the reference
    period's per-cents histogram (r10: distinct cents track the order
    count, so the only single-task window is the 2^16-cents bucket
    grid); bin assignment is a 9-edge broadcast comparison, counting is
    one map-side-combinable groupBy.
    """
    o = load(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.when(F.col("o_orderdate") < PSI_SPLIT, 0).otherwise(1).alias("period"),
    )
    ref = o.where(F.col("period") == 0)
    # r10: the distinct-cents histogram of the reference period is NOT
    # value-domain bounded (order prices are near-unique: 5.5k→55k rows
    # through one WindowExec task, caught by the grid cardinality
    # tripwire) — the edge-scan cumsum is the bucket-stitch form: the
    # only single-task window is the 2^16-cents bucket grid (price range
    # ~5e7 cents → ≤763 buckets at any SF).
    hist = bucketed_global_cumsum(
        ref.groupBy("cents").agg(F.count("*").alias("c")),
        "cents",
        [],
        [("cum", "c")],
        bucket_bits=16,
    ).select("cents", "cum")
    na = ref.agg(F.count("*").alias("na"))
    edges = hist.crossJoin(F.broadcast(na)).agg(
        *[
            F.min(
                F.when(
                    F.col("cum")
                    >= F.expr(f"(na * {k} + {PSI_BINS - 1}) DIV {PSI_BINS}"),
                    F.col("cents"),
                )
            ).alias(f"e{k}")
            for k in range(1, PSI_BINS)
        ]
    )
    binned = o.crossJoin(F.broadcast(edges)).select(
        "period",
        sum(
            [
                F.when(F.col("cents") > F.col(f"e{k}"), 1).otherwise(0)
                for k in range(1, PSI_BINS)
            ]
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("ca").cast("long").alias("n_ref"),
            F.col("cb").cast("long").alias("n_cur"),
            F.expr("CAST((1000000 * ca) DIV na AS BIGINT)").alias(
                "share_ref_micro"
            ),
            F.expr("CAST((1000000 * cb) DIV nb AS BIGINT)").alias(
                "share_cur_micro"
            ),
            F.expr(
                "CAST(round(1000000 * "
                "(CAST(greatest(ca, 1) AS DOUBLE) / na"
                " - CAST(greatest(cb, 1) AS DOUBLE) / nb)"
                " * ln((CAST(greatest(ca, 1) AS DOUBLE) / na)"
                "      / (CAST(greatest(cb, 1) AS DOUBLE) / nb)))"
                " AS BIGINT)"
            ).alias("psi_term_micro"),
        )
        .orderBy("bin")
    )


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


@register(
    "ml_feature_hash_collision_audit",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    hashed AS (
        SELECT tok,
               CAST(('0x' || substr(md5('fh_' || tok), 1, 15)) AS BIGINT)
                   % {1 << HASH_BITS} AS bucket
        FROM toks WHERE tok <> ''
    ),
    per_bucket AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_toks
        FROM hashed GROUP BY bucket
    )
    SELECT CAST({1 << HASH_BITS} AS BIGINT) AS n_buckets,
           CAST(COUNT(*) AS BIGINT) AS n_used,
           CAST(SUM(n_toks) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN n_toks > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_colliding_buckets,
           CAST(SUM(CASE WHEN n_toks > 1 THEN n_toks ELSE 0 END) AS BIGINT)
               AS n_colliding_tokens,
           CAST(MAX(n_toks) AS BIGINT) AS max_bucket_load,
           CAST((1000000 * SUM(CASE WHEN n_toks > 1 THEN n_toks ELSE 0 END))
                // SUM(n_toks) AS BIGINT) AS collision_mass_micro
    FROM per_bucket
    """,
)
def ml_feature_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing collision audit (SURVEY.md §2.6): project the
    corpus vocabulary into 2^HASH_BITS buckets with a portable hash
    (the Weinberger et al. hashing trick every large-scale linear
    model and CountVectorizer-free pipeline uses) and report the
    collision census — buckets used, buckets with >1 token, tokens
    sharing a bucket, worst bucket load, and the share of vocabulary
    mass that collides. The sizing query you run BEFORE choosing b:
    too few bits silently merges features, and nothing downstream
    will tell you.

    Exactness: distinct whitespace tokens, md5 % 2^b assignment,
    integer counts, floor-micro mass share.

    Scale: vocabulary extraction is one explode+distinct; the census
    is two map-side-combinable aggregations (by bucket, then one
    global row). The bucket table itself never materializes beyond
    2^b rows — this is the audit that stays cheap no matter how big
    the corpus, because it runs on the VOCABULARY, not the tokens.
    """
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )
    bucket = md5_long(F.concat(F.lit("fh_"), F.col("tok"))) % (1 << HASH_BITS)
    per_bucket = (
        toks.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_toks"))
    )
    return per_bucket.agg(
        F.lit(1 << HASH_BITS).cast("long").alias("n_buckets"),
        F.count("*").alias("n_used"),
        F.sum("n_toks").cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("n_toks") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_colliding_buckets"),
        F.sum(F.when(F.col("n_toks") > 1, F.col("n_toks")).otherwise(0))
        .cast("long")
        .alias("n_colliding_tokens"),
        F.max("n_toks").cast("long").alias("max_bucket_load"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN n_toks > 1 THEN n_toks ELSE 0 END)) "
            "DIV SUM(n_toks) AS BIGINT)"
        ).alias("collision_mass_micro"),
    )


@register(
    "ml_target_encoding_loo",
    oracle="""
    WITH fact AS (
        SELECT l_orderkey AS k, l_linenumber AS ln, l_partkey AS cat,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ),
    per_cat AS (
        SELECT cat, CAST(COUNT(*) AS BIGINT) AS n_cat,
               CAST(SUM(y) AS BIGINT) AS s_cat
        FROM fact GROUP BY cat
    ),
    gtot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(SUM(y) AS BIGINT) AS s_all
        FROM fact
    )
    SELECT f.k AS orderkey, CAST(f.ln AS BIGINT) AS linenumber,
           f.cat AS partkey, CAST(f.y AS BIGINT) AS y,
           CASE WHEN c.n_cat > 1
                THEN CAST((1000000 * (c.s_cat - f.y)) // (c.n_cat - 1)
                          AS BIGINT)
                ELSE CAST((1000000 * (g.s_all - f.y)) // (g.n_all - 1)
                          AS BIGINT)
           END AS te_micro
    FROM fact f
    JOIN per_cat c ON c.cat = f.cat
    CROSS JOIN gtot g
    ORDER BY orderkey, linenumber
    """,
)
def ml_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (SURVEY.md §2.11): replace the
    high-cardinality part key with the return rate of the OTHER rows
    in its category — (Σy − yᵢ)/(n − 1) in floor-micro — the
    Micci-Barreca categorical feature with the self-exclusion that
    keeps the row's own label out of its own feature (the leakage
    every naive category-mean encoding commits; KFold/LOO exclusion
    is the fix every gradient-boosting pipeline ships). Singleton
    categories fall back to the LOO GLOBAL prior — the fallback rule
    is part of the contract, pinned identically in both engines.

    Exactness: y is 0/1, the encoding is one integer floor division;
    the self-exclusion algebra (subtract before divide) is exact.

    Scale: one category aggregate (map-side combinable) hash-joined
    back on the category key + one broadcast scalar — the fact is
    read once; no per-fold re-aggregation is needed because LOO folds
    algebraically out of the category sums. This is why LOO beats
    KFold encoding at 100 TB: the "fold" is a subtraction.
    """
    fact = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").cast("long").alias("linenumber"),
        F.col("l_partkey").alias("partkey"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).cast("long").alias("y"),
    )
    per_cat = fact.groupBy("partkey").agg(
        F.count("*").alias("n_cat"), F.sum("y").alias("s_cat")
    )
    glob = fact.agg(
        F.count("*").alias("n_all"), F.sum("y").alias("s_all")
    )
    return (
        fact.join(per_cat, "partkey")
        .crossJoin(F.broadcast(glob))
        .select(
            "orderkey",
            "linenumber",
            "partkey",
            "y",
            F.when(
                F.col("n_cat") > 1,
                F.expr("CAST((1000000 * (s_cat - y)) DIV (n_cat - 1) AS BIGINT)"),
            )
            .otherwise(
                F.expr("CAST((1000000 * (s_all - y)) DIV (n_all - 1) AS BIGINT)")
            )
            .alias("te_micro"),
        )
        .orderBy("orderkey", "linenumber")
    )


@register(
    "ml_ols_inference",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
               SUM(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
               SUM(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        FROM lineitem GROUP BY l_returnflag
    ),
    terms AS (
        SELECT l_returnflag, n,
               CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS nsxx,
               CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS nsxy,
               CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS nsyy
        FROM m
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND(nsxy / nsxx, 6) AS slope,
           ROUND(sqrt((nsyy - nsxy * nsxy / nsxx) / (n - 2) / nsxx), 6)
               AS slope_se,
           ROUND((nsxy / nsxx)
                 / sqrt((nsyy - nsxy * nsxy / nsxx) / (n - 2) / nsxx), 6)
               AS t_stat,
           ROUND(nsxy / nsxx - {Z95}
                 * sqrt((nsyy - nsxy * nsxy / nsxx) / (n - 2) / nsxx), 6)
               AS ci_lo,
           ROUND(nsxy / nsxx + {Z95}
                 * sqrt((nsyy - nsxy * nsxy / nsxx) / (n - 2) / nsxx), 6)
               AS ci_hi
    FROM terms
    ORDER BY l_returnflag
    """,
)
def ml_ols_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS slope inference (SURVEY.md §2.11): the standard error,
    t statistic, and 95% CI of the quantity→price slope — the
    inference layer that turns `agg_ols_closed_form`'s point estimate
    into a decision (same cohort, same exact DECIMAL moments,
    deliberately: an estimate and its uncertainty must never be
    computed from different scans). SE(β̂)² = MSE/Sxx folds into the
    n-scaled moment terms as (nSyy − (nSxy)²/nSxx)/(n−2)/nSxx — the
    n factors cancel between SSE/n and Sxx/n, so no per-row residual
    pass is needed (the first draft kept a stray ·n and inflated SE
    by √n; the replay test caught it).

    Exactness: DECIMAL moment sums engine-side; the closing
    expressions are identical ROUND-6 doubles; the z critical value
    is a shared literal (n ≫ 30, the normal approximation is the
    stated convention).

    Scale: zero additional passes — inference is pure arithmetic on
    the moments the estimate already aggregated. That is the entire
    argument for closed-form regression at 100 TB.
    """
    _D = "DECIMAL(18,2)"
    li = load(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast(_D)).alias("sx"),
        F.sum(F.col("l_extendedprice").cast(_D)).alias("sy"),
        F.sum(F.col("l_quantity").cast(_D) * F.col("l_quantity").cast(_D)).alias(
            "sxx"
        ),
        F.sum(
            F.col("l_quantity").cast(_D) * F.col("l_extendedprice").cast(_D)
        ).alias("sxy"),
        F.sum(
            F.col("l_extendedprice").cast(_D) * F.col("l_extendedprice").cast(_D)
        ).alias("syy"),
    )
    terms = m.select(
        "l_returnflag",
        "n",
        (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        ).alias("nsxx"),
        (
            F.col("n").cast("double") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        ).alias("nsxy"),
        (
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        ).alias("nsyy"),
    )
    se = F.sqrt(
        (F.col("nsyy") - F.col("nsxy") * F.col("nsxy") / F.col("nsxx"))
        / (F.col("n") - 2)
        / F.col("nsxx")
    )
    slope = F.col("nsxy") / F.col("nsxx")
    return terms.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(se, 6).alias("slope_se"),
        F.round(slope / se, 6).alias("t_stat"),
        F.round(slope - Z95 * se, 6).alias("ci_lo"),
        F.round(slope + Z95 * se, 6).alias("ci_hi"),
    ).orderBy("l_returnflag")


def _bt_oracle() -> str:
    sql = f"""
    WITH d1 AS (
        SELECT doc_id, source, length(text) AS len FROM documents
    ),
    matches AS (
        SELECT a.source AS sa, b.source AS sb,
               CASE WHEN a.len > b.len THEN 1
                    WHEN a.len < b.len THEN 0 END AS a_wins
        FROM d1 a JOIN d1 b ON b.doc_id = a.doc_id + 7
        WHERE a.source <> b.source
          AND CAST(('0x' || substr(md5('bt_' || CAST(a.doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % {BT_MATCH_MOD} = 0
          AND a.len <> b.len
    ),
    w AS MATERIALIZED (  -- win matrix and pair counts (i < j canonical)
        SELECT least(sa, sb) AS i, greatest(sa, sb) AS j,
               CAST(SUM(CASE WHEN (sa < sb) = (a_wins = 1) THEN 1 ELSE 0 END)
                    AS BIGINT) AS w_ij,
               CAST(COUNT(*) AS BIGINT) AS n_ij
        FROM matches GROUP BY least(sa, sb), greatest(sa, sb)
    ),
    pairs AS MATERIALIZED (  -- both directions for per-item sums
        SELECT i AS s, j AS o, w_ij AS wins, n_ij FROM w
        UNION ALL
        SELECT j, i, n_ij - w_ij, n_ij FROM w
    ),
    items AS MATERIALIZED (SELECT DISTINCT s FROM pairs),
    pi0 AS MATERIALIZED (SELECT s, 1.0 AS pi FROM items)
    """
    prev = "pi0"
    for t in range(1, BT_ITERS + 1):
        sql += f"""
    , raw{t} AS MATERIALIZED (
        SELECT p.s,
               SUM(p.wins ORDER BY p.o) AS w_i,
               SUM(p.n_ij / (a.pi + b.pi) ORDER BY p.o) AS denom
        FROM pairs p
        JOIN {prev} a ON a.s = p.s
        JOIN {prev} b ON b.s = p.o
        GROUP BY p.s
    ), anchor{t} AS MATERIALIZED (
        SELECT w_i / denom AS z FROM raw{t}
        WHERE s = (SELECT MIN(s) FROM items)
    ), pi{t} AS MATERIALIZED (
        SELECT s, (w_i / denom) / (SELECT z FROM anchor{t}) AS pi
        FROM raw{t}
    )"""
        prev = f"pi{t}"
    sql += f"""
    SELECT s AS source, ROUND(pi, 6) AS strength,
           CAST(row_number() OVER (ORDER BY ROUND(pi, 6) DESC, s) AS BIGINT)
               AS rank
    FROM {prev}
    ORDER BY source
    """
    return sql


@register("ml_bradley_terry_strengths", oracle=_bt_oracle())
def ml_bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry strengths (SURVEY.md §2.11): fit π for each source
    from deterministic pairwise matches (md5-sampled doc pairs;
    longer text wins — the tournament machinery, not the judge, is
    the product) by {BT_ITERS} unrolled MM iterations
    πᵢ ← Wᵢ / Σⱼ nᵢⱼ/(πᵢ+πⱼ) (Hunter 2004), anchored each round to
    the first source so the scale cannot drift. This is the estimator
    behind every pairwise-preference leaderboard — chatbot arenas
    rank models with exactly this fixpoint — and the key pins its
    distributed form: reduce the tournament to the bounded win
    matrix FIRST, iterate over that.

    Every float sum in the fixpoint is ORDER-PINNED (ordered
    aggregates / sorted-array folds over the opponent id — the
    Hellinger discipline), so both engines walk bit-identical
    iterates to the ROUND-6 close.

    Scale: the fact-sized work is one pass building the ≤|src|² win
    matrix; each MM round is a join over that tiny relation —
    iterate-over-the-aggregate, never over the corpus (the
    `graph_pagerank_nation_flow` discipline applied to tournaments).
    """
    d1 = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("len")
    )
    a = d1.select(
        F.col("doc_id").alias("ida"),
        F.col("source").alias("sa"),
        F.col("len").alias("la"),
    )
    b = d1.select(
        F.col("doc_id").alias("idb"),
        F.col("source").alias("sb"),
        F.col("len").alias("lb"),
    )
    mhash = md5_long(F.concat(F.lit("bt_"), F.col("ida").cast("string")))
    matches = (
        a.join(b, F.col("idb") == F.col("ida") + 7)
        .where(
            (F.col("sa") != F.col("sb"))
            & (mhash % BT_MATCH_MOD == 0)
            & (F.col("la") != F.col("lb"))
        )
        .select(
            "sa",
            "sb",
            F.when(F.col("la") > F.col("lb"), 1).otherwise(0).alias("a_wins"),
        )
    )
    w = matches.groupBy(
        F.least("sa", "sb").alias("i"), F.greatest("sa", "sb").alias("j")
    ).agg(
        F.sum(
            F.when(
                (F.col("sa") < F.col("sb")) == (F.col("a_wins") == 1), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("w_ij"),
        F.count("*").alias("n_ij"),
    )
    pairs = w.select(
        F.col("i").alias("s"), F.col("j").alias("o"),
        F.col("w_ij").alias("wins"), "n_ij",
    ).unionByName(
        w.select(
            F.col("j").alias("s"), F.col("i").alias("o"),
            (F.col("n_ij") - F.col("w_ij")).alias("wins"), "n_ij",
        )
    ).localCheckpoint(eager=True)
    # r12 optimization (guide §4.2): the MM fixpoint runs over the BOUNDED
    # win matrix (≤|src|² rows — the whole point of reducing the
    # tournament first), so the former {BT_ITERS} distributed rounds —
    # each a double join + ordered fold + anchor broadcast + eager
    # localCheckpoint, ~3 jobs/round — collapse into ONE single-group
    # applyInPandas pass over the checkpointed pairs. The Python fold
    # replays the EXACT order-pinned IEEE sequence of the former Spark
    # HOF folds (opponents visited in o-ascending order, the same float
    # adds/divides), so every iterate is bit-identical; rounding and the
    # final rank stay in the ENGINE below, untouched (hash-verified).
    # The one task holds |src|² integers — bounded by the source label
    # domain, never the corpus, at any SF.
    def _mm_fixpoint(pdf):
        import pandas as pd

        rows_by_s: dict[int | str, list] = {}
        for s, o, wins, n_ij in zip(pdf["s"], pdf["o"], pdf["wins"], pdf["n_ij"]):
            rows_by_s.setdefault(s, []).append((o, int(wins), int(n_ij)))
        for s in rows_by_s:
            rows_by_s[s].sort(key=lambda t: t[0])  # o-ascending fold order
        anchor = min(rows_by_s)
        pi = {s: 1.0 for s in rows_by_s}
        for _ in range(BT_ITERS):
            raw = {}
            for s, opp in rows_by_s.items():
                w_i = 0.0
                denom = 0.0
                for o, wins, n_ij in opp:
                    w_i = w_i + float(wins)
                    denom = denom + n_ij / (pi[s] + pi[o])
                raw[s] = w_i / denom
            z = raw[anchor]
            pi = {s: v / z for s, v in raw.items()}
        return pd.DataFrame(
            {"s": list(pi), "pi": [pi[s] for s in pi]}
        )

    pi = (
        pairs.groupBy(F.lit(0).alias("__g"))
        .applyInPandas(_mm_fixpoint, schema="s string, pi double")
    )

    # De-globalized rank (r8): the (strength DESC, s) total order ranks
    # via the distinct-strength histogram base + a strength-partitioned
    # row_number — the post-checkpoint groupBy restores the Aggregate
    # node the bounded-grid assertion checks for.
    rows = pi.select("s", F.round("pi", 6).alias("strength"))
    hist = rows.groupBy("strength").agg(F.count("*").alias("c"))
    base = grid_cumsum(
        hist,
        [F.desc("strength")],
        [("base", "c")],
        keep=["strength"],
        frame_end=-1,
    )
    w_in = Window.partitionBy("strength").orderBy("s")
    return (
        rows.join(F.broadcast(base), "strength")
        .select(
            F.col("s").alias("source"),
            "strength",
            (F.col("base") + F.row_number().over(w_in))
            .cast("long")
            .alias("rank"),
        )
        .orderBy("source")
    )
