"""Round-4 extension pack #115: month-arithmetic clamping semantics and
the Hill power-law tail estimator.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — calendar month arithmetic with end-of-month clamping
(Jan 31 + 1 month = Feb 29/28: the billing/settlement semantic every
SQL engine implements and every hand-rolled date loop gets wrong) and
the Hill estimator (α̂ = k / Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top-k order
statistics — the standard tail-index estimate for power-law-ish
distributions like document lengths, Hill 1975) — re-expressed on the
public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-4 standard): the date suite emits DATE
values only (no epoch math — the clamp itself is the contract, pinned
cross-engine: Spark add_months ≡ DuckDB + INTERVAL n MONTH, both
clamping); Hill folds per-term ln to micro-nats then integer-sums, the
top-k membership is a (length DESC, doc_id) total order, and α̂ closes
as one identical double expression.

Scale posture (SURVEY.md §7.6): the suite is a per-row projection over
the distinct-date spine; Hill needs only the top-(k+1) order statistics
— rank window over lengths (TakeOrdered shape), never a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

HILL_K = 50  # top-k tail order statistics entering the estimator


@register(
    "scalar_month_arithmetic_suite",
    oracle="""
    WITH spine AS (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
    )
    SELECT d,
           CAST(d + INTERVAL 1 MONTH AS DATE) AS plus_1m,
           CAST(d - INTERVAL 1 MONTH AS DATE) AS minus_1m,
           CAST(d + INTERVAL 13 MONTH AS DATE) AS plus_13m,
           last_day(d) AS month_end,
           CAST(EXTRACT(day FROM last_day(d)) AS BIGINT) AS days_in_month,
           d = last_day(d) AS is_month_end,
           CAST(date_trunc('quarter', d) AS DATE) AS quarter_start,
           CAST(date_trunc('quarter', d) + INTERVAL 3 MONTH AS DATE)
               AS next_quarter_start,
           last_day(make_date(CAST(EXTRACT(year FROM d) AS INTEGER), 2, 1))
               AS feb_end_of_year,
           EXTRACT(day FROM last_day(make_date(
               CAST(EXTRACT(year FROM d) AS INTEGER), 2, 1))) = 29
               AS is_leap_year
    FROM spine
    ORDER BY d
    """,
)
def scalar_month_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-arithmetic clamping suite (SURVEY.md §2.8): over the
    distinct order-date spine, the calendar operations whose EDGE
    semantics differ from naive day math and must agree cross-engine:
    ±1/+13 months with end-of-month CLAMPING (Jan 31 + 1m = Feb 29/28 —
    Spark `add_months` and DuckDB `+ INTERVAL 1 MONTH` both clamp,
    pinned here), last_day / days-in-month, month-end detection,
    quarter start and next-quarter roll, and leap-year detection via
    February's last day — the billing-cycle / settlement-date algebra
    beside the registry's business-day and role-playing-calendar keys.

    Exactness: pure DATE outputs — the clamp IS the contract; no
    epoch arithmetic, no timezone surface.

    Scale: per-row projection over the bounded distinct-date spine
    (codegen; at 100 TB the spine is a broadcast calendar dim).
    """
    spine = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date").alias("d"))
        .distinct()
    )
    return spine.select(
        "d",
        F.add_months("d", 1).alias("plus_1m"),
        F.add_months("d", -1).alias("minus_1m"),
        F.add_months("d", 13).alias("plus_13m"),
        F.last_day("d").alias("month_end"),
        F.dayofmonth(F.last_day("d")).cast("long").alias("days_in_month"),
        (F.col("d") == F.last_day("d")).alias("is_month_end"),
        F.date_trunc("quarter", "d").cast("date").alias("quarter_start"),
        F.add_months(F.date_trunc("quarter", "d").cast("date"), 3).alias(
            "next_quarter_start"
        ),
        F.last_day(F.make_date(F.year("d"), F.lit(2), F.lit(1))).alias(
            "feb_end_of_year"
        ),
        (
            F.dayofmonth(F.last_day(F.make_date(F.year("d"), F.lit(2), F.lit(1))))
            == 29
        ).alias("is_leap_year"),
    ).orderBy("d")


@register(
    "llm_length_powerlaw_hill",
    oracle=f"""
    WITH lens AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_words,
               row_number() OVER (ORDER BY n_words DESC, doc_id) AS rn
        FROM lens
    ),
    xk AS (
        SELECT n_words AS x_k1 FROM ranked WHERE rn = {HILL_K} + 1
    ),
    terms AS (
        SELECT CAST(round(1000000 * ln(CAST(r.n_words AS DOUBLE) / x.x_k1))
                    AS BIGINT) AS ln_micro
        FROM ranked r, xk x
        WHERE r.rn <= {HILL_K}
    )
    SELECT CAST({HILL_K} AS BIGINT) AS k,
           (SELECT CAST(x_k1 AS BIGINT) FROM xk) AS tail_threshold_words,
           CAST(SUM(ln_micro) AS BIGINT) AS sum_ln_micro,
           CASE WHEN SUM(ln_micro) = 0 THEN NULL
                ELSE CAST(round(1000000.0 * {HILL_K} * 1000000
                           / CAST(SUM(ln_micro) AS DOUBLE)) AS BIGINT)
           END AS alpha_micro
    FROM terms
    """,
)
def llm_length_powerlaw_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimate for document lengths (SURVEY.md §2.12):
    α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top-{HILL_K} length order
    statistics — the standard answer to "how heavy is this corpus's
    long-document tail" (α ≈ 1-2: very heavy, sharding by doc count
    will skew by bytes; α large: near-exponential, length is benign).
    The number feeds shard planning and truncation policy beside the
    registry's doc-packing and vocab-growth keys.

    Exactness: the top-(k+1) membership is a (length DESC, doc_id)
    total order; each ln ratio rounds to micro-nats independently and
    sums as BIGINT; α̂ closes as one identical double expression.

    Scale: the top-(k+1) selection is distributed — a bounded
    distinct-length histogram gives base ranks, a broadcast prune keeps
    only lengths that can reach rank k+1, and the residual rank is
    length-partitioned; no full sort, no pair work; k is a constant.

    Degenerate-tail guard (round-5, ADVICE r4): if every top-k length
    ties with x₍ₖ₊₁₎, Σ ln_micro = 0 and the close would divide by
    zero — inf under non-ANSI cast, silently NULLed only on one side.
    Both sides now return an explicit NULL alpha in that case (CASE
    WHEN SUM = 0), and tests/test_extended115.py asserts the fixture
    keeps sum_ln_micro > 0 so the guard stays dormant on real data.
    """
    lens = (
        spread(load(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_words"),
        )
    )
    # De-globalized top-(k+1) (r8): base = strictly-longer doc count from
    # the bounded distinct-length histogram; only length values whose base
    # can still reach rank k+1 join back (broadcast semi-prune), then the
    # global rank is base + a length-partitioned row_number. No doc row
    # funnels through one sort task.
    hist = lens.groupBy("n_words").agg(F.count("*").alias("c"))
    base = grid_cumsum(
        hist,
        [F.desc("n_words")],
        [("base", "c")],
        keep=["n_words"],
        frame_end=-1,
    ).where(F.col("base") <= HILL_K)
    w_in = Window.partitionBy("n_words").orderBy("doc_id")
    ranked = (
        lens.join(F.broadcast(base), "n_words")
        .withColumn("rn", F.col("base") + F.row_number().over(w_in))
        .where(F.col("rn") <= HILL_K + 1)
    )
    xk = ranked.where(F.col("rn") == HILL_K + 1).select(
        F.col("n_words").alias("x_k1")
    )
    terms = (
        ranked.where(F.col("rn") <= HILL_K)
        .crossJoin(F.broadcast(xk))
        .select(
            F.expr(
                "CAST(round(1000000 * ln(CAST(n_words AS DOUBLE) / x_k1))"
                " AS BIGINT)"
            ).alias("ln_micro")
        )
    )
    return terms.crossJoin(F.broadcast(xk)).agg(
        F.lit(HILL_K).cast("long").alias("k"),
        F.max("x_k1").cast("long").alias("tail_threshold_words"),
        F.sum("ln_micro").cast("long").alias("sum_ln_micro"),
        F.expr(
            "CASE WHEN SUM(ln_micro) = 0 THEN NULL"
            f" ELSE CAST(round(1000000.0 * {HILL_K} * 1000000"
            " / CAST(SUM(ln_micro) AS DOUBLE)) AS BIGINT) END"
        ).alias("alpha_micro"),
    )
