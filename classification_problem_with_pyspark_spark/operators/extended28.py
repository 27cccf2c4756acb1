"""Round-3 extension pack #28: exact frequent 2-sequences (the SQL
companion of MLlib PrefixSpan, `ml_prefixspan_sequences`) and FIFO
inventory allocation via double-cumsum interval matching.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — frequent-subsequence support counting and the FIFO
allocation-by-cumulative-intervals idiom (the standard SQL solution to
first-in-first-out cost basis / queue matching) — re-expressed on the
public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): sequence support counts are
exact user counts over epoch-µs orderings (strict < on integer
microseconds); FIFO quantities fold to BIGINT units and every matched
quantity is min/max arithmetic on exact cumulative sums. The
frequent-2-sequence counts also pin the rows-only PrefixSpan key: its
length-2 pattern frequencies must equal them, pattern by pattern
(tests/test_extended28.py).

Scale posture (SURVEY.md §7.6): frequent-2-sequences reduce the fact
table to per-(user, type) first/last timestamps before any pairing (the
pair space is types², not events²); FIFO cumsums run in per-part
windows and the interval join is an equi-join on part with a bounded
range residual — never a cartesian.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "events_frequent_2seq",
    oracle="""
    WITH per AS (
        SELECT user_id, event_type,
               min(epoch_us(ts)) AS first_us,
               max(epoch_us(ts)) AS last_us
        FROM events GROUP BY user_id, event_type
    ),
    tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM per),
    pairs AS (
        SELECT a.event_type AS first_type, b.event_type AS then_type,
               CAST(count(*) AS BIGINT) AS n_users_with_seq
        FROM per a JOIN per b
          ON a.user_id = b.user_id AND a.first_us < b.last_us
        GROUP BY a.event_type, b.event_type
    )
    SELECT first_type, then_type, n_users_with_seq,
           CAST((1000000 * n_users_with_seq) // n_users AS BIGINT)
               AS support_micro
    FROM pairs, tot
    ORDER BY first_type, then_type
    """,
)
def events_frequent_2seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-2-sequence support (SURVEY.md §2.13): for every
    ordered type pair (a → b), how many users exhibit a's FIRST
    occurrence strictly before b's LAST occurrence — i.e. contain the
    subsequence <a, b> (not-necessarily-adjacent, the sequential-
    pattern-mining definition, which is why this differs from
    `events_transition_matrix`'s adjacent bigrams). Doubles as the
    exact oracle pinning `ml_prefixspan_sequences`' length-2 output.

    Exactness: the subsequence test reduces to ONE comparison of two
    per-(user, type) epoch-µs aggregates — first(a) < last(b) ⟺ an
    a-before-b occurrence exists; support folds floor-micro.

    Scale: the fact table collapses to |users|×|types| rows before any
    pairing, and the pair join is user-keyed — the pair space is
    types² per user, never events².
    """
    e = load(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    tot = per.agg(F.countDistinct("user_id").alias("n_users"))
    a = per.select(
        "user_id",
        F.col("event_type").alias("first_type"),
        "first_us",
    )
    b = per.select(
        F.col("user_id").alias("b_user"),
        F.col("event_type").alias("then_type"),
        "last_us",
    )
    pairs = (
        a.join(
            b,
            (a.user_id == b.b_user) & (a.first_us < b.last_us),
        )
        .groupBy("first_type", "then_type")
        .agg(F.count("*").alias("n_users_with_seq"))
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .select(
            "first_type",
            "then_type",
            "n_users_with_seq",
            F.expr(
                "CAST((1000000 * n_users_with_seq) DIV n_users AS BIGINT)"
            ).alias("support_micro"),
        )
        .orderBy("first_type", "then_type")
    )


@register(
    "join_fifo_allocation",
    oracle="""
    WITH supply AS (
        SELECT l_partkey AS part, l_orderkey AS s_order,
               l_linenumber AS s_line,
               CAST(round(l_quantity) AS BIGINT) AS qty,
               SUM(CAST(round(l_quantity) AS BIGINT)) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        FROM lineitem WHERE l_returnflag = 'N'
    ),
    demand AS (
        SELECT l_partkey AS part, l_orderkey AS d_order,
               l_linenumber AS d_line,
               CAST(round(l_quantity) AS BIGINT) AS qty,
               SUM(CAST(round(l_quantity) AS BIGINT)) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        FROM lineitem WHERE l_returnflag = 'R'
    )
    SELECT s.part, s.s_order, s.s_line, d.d_order, d.d_line,
           CAST(least(s.hi, d.hi)
                - greatest(s.hi - s.qty, d.hi - d.qty) AS BIGINT)
               AS matched_qty
    FROM supply s JOIN demand d
      ON s.part = d.part
     AND s.hi - s.qty < d.hi
     AND d.hi - d.qty < s.hi
    ORDER BY s.part, s.s_order, s.s_line, d.d_order, d.d_line
    """,
)
def join_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO allocation between supply and demand streams (SURVEY.md
    §2.3): per part, shipped non-return lines (supply) are consumed by
    returned lines (demand) strictly first-in-first-out, and every
    (supply line, demand line, matched quantity) allocation is emitted —
    the inventory-costing / queue-matching operator warehouses solve
    with the double-cumulative-interval idiom: each side becomes
    half-open intervals [hi−qty, hi) on the cumulative-quantity axis,
    and FIFO matches are EXACTLY the interval intersections.

    Exactness: quantities round to BIGINT at their integer precision;
    cumulative sums order by the (shipdate, orderkey, linenumber) total
    order; matched_qty = min(hi) − max(lo) is pure integer arithmetic.

    Scale: the cumsums are per-part windows (the shuffle the allocation
    needs anyway); the match is an equi-join on part with a range
    residual — each supply interval overlaps O(1) demand intervals on
    average, so output is linear in input, never pairs².
    """
    li = load(spark, sf_dir, "lineitem")
    qty = F.expr("CAST(round(l_quantity) AS BIGINT)")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def side(flag: str, prefix: str) -> DataFrame:
        return li.where(F.col("l_returnflag") == flag).select(
            F.col("l_partkey").alias("part"),
            F.col("l_orderkey").alias(f"{prefix}_order"),
            F.col("l_linenumber").alias(f"{prefix}_line"),
            qty.alias(f"{prefix}_qty"),
            F.sum(qty).over(w).alias(f"{prefix}_hi"),
        )

    s = side("N", "s")
    d = side("R", "d").withColumnRenamed("part", "d_part")
    return (
        s.join(
            d,
            (s.part == d.d_part)
            & (F.col("s_hi") - F.col("s_qty") < F.col("d_hi"))
            & (F.col("d_hi") - F.col("d_qty") < F.col("s_hi")),
        )
        .select(
            "part",
            "s_order",
            "s_line",
            "d_order",
            "d_line",
            (
                F.least("s_hi", "d_hi")
                - F.greatest(
                    F.col("s_hi") - F.col("s_qty"),
                    F.col("d_hi") - F.col("d_qty"),
                )
            )
            .cast("long")
            .alias("matched_qty"),
        )
        .orderBy("part", "s_order", "s_line", "d_order", "d_line")
    )
