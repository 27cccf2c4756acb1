"""Round-1 extension pack: additional oracle-checked operators widening
SURVEY.md §2 coverage (statistical aggregates, max_by/min_by, LIMIT/OFFSET
pagination, INTERSECT ALL, full-outer join, histogram, ratio-to-report
windows, BPE-ish regex token counting, second string suite).

Scale posture mirrors the rest of the engine: every key is a declarative
DataFrame plan (partial aggregation before shuffles, no collect, no Python
row-UDFs), and order-sensitive float aggregation is avoided by computing
statistics from EXACT decimal sums (see agg_corr_covar) — the multi-SF
parity lesson of SURVEY.md §7.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.plans.components import min_label_components
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

# BPE-ish tokenizer: letter runs, digit runs, single punctuation marks.
# Same RE2/Java-regex-compatible pattern string on both engines.
_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@register(
    "agg_corr_covar",
    oracle="""
    WITH c AS (
        SELECT l_returnflag,
               CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS dc
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag,
               COUNT(*) AS row_cnt,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(qc) AS DOUBLE) / 100 AS sx,
               CAST(SUM(dc) AS DOUBLE) / 100 AS sy,
               CAST(SUM(qc * qc) AS DOUBLE) / 10000 AS sxx,
               CAST(SUM(dc * dc) AS DOUBLE) / 10000 AS syy,
               CAST(SUM(qc * dc) AS DOUBLE) / 10000 AS sxy
        FROM c
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           row_cnt,
           ROUND((n * sxy - sx * sy)
                 / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS corr_qty_disc,
           ROUND((sxy - sx * sy / n) / (n - 1), 6) AS covar_samp_qty_disc
    FROM s
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance per group (SURVEY.md §2.4).

    NOT F.corr/F.covar_samp: those accumulate doubles in partition order,
    so the result is run- and engine-dependent at scale. Instead the five
    moments are summed EXACTLY as integer cents (2-decimal inputs x100 —
    long sums are exact AND stay in integer whole-stage codegen, ~3x the
    decimal path), then corr/covar are derived in double from the exact
    sums with the same expression tree as the oracle. Deterministic at
    100 TB, and still one partial-agg shuffle of 5 numbers per group.
    """
    li = load(spark, sf_dir, "lineitem")
    # integer-cents moments: 2-decimal inputs scaled to exact longs — the
    # same exactness as decimal sums at integer-codegen speed (measured
    # ~3x on this key). Long capacity: qc<=5e3, qc^2<=2.5e7, so even
    # 1e11 rows stay under 2^63; the /100 and /1e4 rescales are exact
    # doubles (sums < 2^53) with identical expression trees both engines.
    qc = F.round(F.col("l_quantity") * 100).cast("long")
    dc = F.round(F.col("l_discount") * 100).cast("long")
    s = (
        li.select("l_returnflag", qc.alias("qc"), dc.alias("dc"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("row_cnt"),
            F.count("*").cast("double").alias("n"),
            (F.sum("qc").cast("double") / 100).alias("sx"),
            (F.sum("dc").cast("double") / 100).alias("sy"),
            (F.sum(F.col("qc") * F.col("qc")).cast("double") / 10000).alias("sxx"),
            (F.sum(F.col("dc") * F.col("dc")).cast("double") / 10000).alias("syy"),
            (F.sum(F.col("qc") * F.col("dc")).cast("double") / 10000).alias("sxy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        "row_cnt",
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6
        ).alias("corr_qty_disc"),
        F.round((sxy - sx * sy / n) / (n - 1), 6).alias("covar_samp_qty_disc"),
    )


@register(
    "agg_min_max_by",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey DESC) AS rb,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice ASC, o_orderkey ASC) AS rw
        FROM orders
    )
    SELECT b.o_orderpriority,
           b.o_orderkey AS best_orderkey,
           b.o_totalprice AS best_totalprice,
           w.o_orderkey AS worst_orderkey,
           w.o_totalprice AS worst_totalprice
    FROM (SELECT * FROM ranked WHERE rb = 1) b
    JOIN (SELECT * FROM ranked WHERE rw = 1) w USING (o_orderpriority)
    """,
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by ("which row holds the extreme") per group
    (SURVEY.md §2.4). The ordering value is a (price, key) struct so ties
    break deterministically — bare max_by on a non-unique column is
    nondeterministic on BOTH engines and can never hash-match. DuckDB 1.0's
    arg_max lacks struct support (probed), hence the window-form oracle.
    One partial-aggregated shuffle; no window materialization Spark-side.
    """
    o = load(spark, sf_dir, "orders")
    tie = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", tie).alias("best_orderkey"),
        F.max("o_totalprice").alias("best_totalprice"),
        F.min_by("o_orderkey", tie).alias("worst_orderkey"),
        F.min("o_totalprice").alias("worst_totalprice"),
    )


@register(
    "agg_bool_filtered",
    oracle="""
    SELECT l_returnflag,
           BOOL_AND(l_quantity > 0) AS all_qty_positive,
           BOOL_OR(l_discount > 0.07) AS any_big_discount,
           COUNT(*) FILTER (WHERE l_tax = 0) AS zero_tax_rows,
           COUNT(*) FILTER (WHERE l_extendedprice > 30000) AS high_value_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_bool_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates + filtered counts (SURVEY.md §2.4): bool_and /
    bool_or / count_if — the SQL FILTER clause family. All algebraic, so
    Spark partial-aggregates map-side; the shuffle carries 4 scalars per
    group regardless of input size.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 0).alias("all_qty_positive"),
        F.bool_or(F.col("l_discount") > 0.07).alias("any_big_discount"),
        F.count_if(F.col("l_tax") == 0).alias("zero_tax_rows"),
        F.count_if(F.col("l_extendedprice") > 30000).alias("high_value_rows"),
    )


@register(
    "agg_value_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           CAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT) * 50000.0
                AS DOUBLE) AS lo_edge,
           COUNT(*) AS cnt,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY 1
    """,
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (SURVEY.md §2.4): floor-bucket the
    measure, count + min/max per bucket. The binning is plain arithmetic on
    the scan (no sampling, no sort), so it is a single partial-agg pass —
    the building block for distribution profiling at 100 TB. min/max of
    doubles are exact selections, safe to hash (unlike float sums).
    """
    o = load(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000)
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("cnt"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    ).select(
        "bucket",
        (F.col("bucket") * 50000.0).alias("lo_edge"),
        "cnt",
        "min_price",
        "max_price",
    )


@register(
    "sort_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10 OFFSET 10
    """,
)
def sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination (SURVEY.md §2.6): rows 11-20 of the global
    price ranking. The ordering carries a unique key tie-break, otherwise
    the page boundary is nondeterministic. Spark plans this as
    TakeOrderedAndProject (per-partition top-(k+offset), merge at driver) —
    no global sort materialization, which is what makes top-k paging viable
    on a 100-TB fact table.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .offset(10)
        .limit(10)
    )


@register(
    "setop_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (SURVEY.md §2.7): multiset intersection — customers
    kept once per matched pair of open/finished orders. Spark rewrites
    intersectAll to a count-compare aggregate join, same as the SQL spec's
    multiset semantics; one shuffle on the key.
    """
    o = load(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersectAll(b)


@register(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
           c.c_custkey IS NOT NULL AS has_rich_customer,
           o.o_custkey IS NOT NULL AS has_finished_orders,
           c.c_acctbal AS acctbal,
           o.order_cnt
    FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000) c
    FULL OUTER JOIN (
        SELECT o_custkey, COUNT(*) AS order_cnt
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (SURVEY.md §2.3) with genuinely unmatched rows on
    BOTH sides: rich customers vs. finished-order counts. Output carries
    COALESCE'd key + presence flags — the standard reconciliation shape.
    Both inputs pre-reduce before the join (filter / partial agg), so the
    full-outer shuffle joins two small keyed sets, not two fact tables.
    """
    c = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_acctbal")
    )
    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("order_cnt"))
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return j.select(
        F.coalesce(c.c_custkey, o.o_custkey).alias("custkey"),
        c.c_custkey.isNotNull().alias("has_rich_customer"),
        o.o_custkey.isNotNull().alias("has_finished_orders"),
        F.col("c_acctbal").alias("acctbal"),
        "order_cnt",
    )


@register(
    "window_ratio_to_report",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               COUNT(*) AS cnt
        FROM events
        GROUP BY 1, 2
    )
    SELECT event_type, day, cnt,
           ROUND(cnt / SUM(cnt) OVER (PARTITION BY event_type), 6)
               AS share_of_type
    FROM daily
    """,
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report window (SURVEY.md §2.5): each day's share of its
    event type's total. The windowed SUM runs over INTEGER counts (already
    aggregated), so the division is exact-input → deterministic — a
    windowed SUM over raw doubles would be order-dependent and break
    hash parity at scale. Window partitions by event_type; the heavy
    reduction happened in the groupBy before it.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type")
    return daily.select(
        "event_type",
        "day",
        "cnt",
        F.round(F.col("cnt") / F.sum("cnt").over(w), 6).alias("share_of_type"),
    )


@register(
    "llm_token_count_bpe",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS re_tokens,
           ROUND(SUM(len(regexp_extract_all(text, '{_TOKEN_RE}')))
                 / COUNT(*), 6) AS avg_re_tokens_per_doc
    FROM documents
    GROUP BY lang
    """,
)
def llm_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for corpus budgeting (task-mandated LLM op): both
    whitespace tokens and a BPE-ish lexer (letter runs | digit runs |
    single punctuation) via regexp_extract_all, aggregated per language.
    Pure JVM expression work on the scan — no UDF, no explode, no shuffle
    beyond the 5-group agg — so it runs at full codegen speed over 100 TB
    of text. Explicit group-0 on both engines (Spark's default idx is 1).
    """
    d = load(spark, sf_dir, "documents")
    re_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0))
    ws_tokens = F.size(F.split(F.col("text"), " "))
    return d.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum(ws_tokens).alias("ws_tokens"),
        F.sum(re_tokens).alias("re_tokens"),
        F.round(F.sum(re_tokens) / F.count("*"), 6).alias("avg_re_tokens_per_doc"),
    )


@register(
    "scalar_trig_suite",
    oracle="""
    SELECT s_suppkey,
           ROUND(SIN(s_acctbal / 1000.0), 6) AS sin_v,
           ROUND(COS(s_acctbal / 1000.0), 6) AS cos_v,
           ROUND(TAN(s_nationkey / 10.0), 6) AS tan_v,
           ROUND(ATAN2(s_acctbal, CAST(s_suppkey AS DOUBLE)), 6) AS atan2_v,
           ROUND(DEGREES(s_nationkey / 10.0), 6) AS deg_v,
           ROUND(RADIANS(CAST(s_nationkey AS DOUBLE)), 6) AS rad_v,
           ROUND(EXP(s_nationkey / 25.0), 6) AS exp_v,
           ROUND(LN(ABS(s_acctbal) + 1.0), 6) AS ln_v
    FROM supplier
    """,
)
def scalar_trig_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric/transcendental family (SURVEY.md §2.8): sin/cos/tan/
    atan2/degrees/radians/exp/ln. Both engines delegate to correctly-
    rounded-enough libm implementations; round(,6) absorbs any last-ulp
    platform difference (verified empirically at 3 SFs — these are the
    only suite functions whose bit-level identity isn't guaranteed by
    IEEE 754 arithmetic alone).
    """
    s = load(spark, sf_dir, "supplier")
    bal = F.col("s_acctbal")
    nk = F.col("s_nationkey")
    return s.select(
        "s_suppkey",
        F.round(F.sin(bal / 1000.0), 6).alias("sin_v"),
        F.round(F.cos(bal / 1000.0), 6).alias("cos_v"),
        F.round(F.tan(nk / 10.0), 6).alias("tan_v"),
        F.round(F.atan2(bal, F.col("s_suppkey").cast("double")), 6).alias("atan2_v"),
        F.round(F.degrees(nk / 10.0), 6).alias("deg_v"),
        F.round(F.radians(nk.cast("double")), 6).alias("rad_v"),
        F.round(F.exp(nk / 25.0), 6).alias("exp_v"),
        F.round(F.log(F.abs(bal) + 1.0), 6).alias("ln_v"),
    )


@register(
    "scalar_array_setops_suite",
    oracle="""
    WITH t AS (
        SELECT d.doc_id,
               list_distinct(string_split(d.text, ' ')) AS ta,
               list_distinct(string_split(d2.text, ' ')) AS tb
        FROM documents d
        JOIN documents d2 ON d2.doc_id = d.doc_id + 1
    )
    SELECT doc_id,
           COALESCE(array_to_string(list_sort(list_intersect(ta, tb)), ' '),
                    '') AS common_tokens,
           COALESCE(array_to_string(
                    list_sort(list_distinct(list_concat(ta, tb))), ' '),
                    '') AS all_tokens,
           COALESCE(array_to_string(
                    list_sort(list_filter(ta, x -> NOT list_contains(tb, x))),
                    ' '), '') AS only_in_a,
           len(list_intersect(ta, tb)) AS n_common
    FROM t
    """,
)
def scalar_array_setops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set operations (SURVEY.md §2.8 array family): intersect /
    union-distinct / except over adjacent documents' token sets. Every
    array output is sorted — raw set-op order is engine-private and can
    never be hashed (the collect_set lesson applied to arrays) — and then
    space-joined to a STRING: the driver canonicalizes results through a
    pandas frame whose sort/factorize step cannot hash list cells
    (CORRECTNESS_r04 ERR `unhashable type: 'list'`), so top-level array
    columns are un-gradable regardless of value correctness. Sorted-then-
    joined strings carry identical information and hash deterministically
    on both sides. DuckDB lacks list_except, so the oracle spells it
    list_filter + NOT list_contains; its array_to_string([]) yields NULL
    where Spark's array_join([]) yields '' — hence the COALESCE.
    """
    d = load(spark, sf_dir, "documents")
    a = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ta")
    )
    b = d.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.array_distinct(F.split("text", " ")).alias("tb"),
    )
    return a.join(b, "doc_id").select(
        "doc_id",
        F.array_join(F.array_sort(F.array_intersect("ta", "tb")), " ").alias(
            "common_tokens"
        ),
        F.array_join(F.array_sort(F.array_union("ta", "tb")), " ").alias(
            "all_tokens"
        ),
        F.array_join(F.array_sort(F.array_except("ta", "tb")), " ").alias(
            "only_in_a"
        ),
        F.size(F.array_intersect("ta", "tb")).alias("n_common"),
    )


@register(
    "agg_grouping_id",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers (SURVEY.md §2.4): the flags tell
    subtotal rows apart from data rows whose key is genuinely NULL — the
    piece agg_rollup alone can't express. Same single-pass Expand plan as
    plain rollup.
    """
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count("*").alias("cnt"),
    )


@register(
    "scalar_conditional_suite",
    oracle="""
    SELECT s_suppkey,
           NULLIF(s_nationkey % 5, 0) AS nation_mod_or_null,
           GREATEST(s_acctbal, 0.0) AS bal_floor0,
           LEAST(s_acctbal, 1000.0) AS bal_cap1000,
           IF(s_acctbal >= 0, 'solvent', 'debtor') AS solvency,
           COALESCE(NULLIF(s_nationkey % 5, 0), -1) AS mod_defaulted
    FROM supplier
    """,
)
def scalar_conditional_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null scalar family standalone (SURVEY.md §2.8): nullif /
    greatest / least / if / coalesce-with-default. Row-parallel codegen'd
    expressions; integer and comparison outputs so parity is exact by
    construction.
    """
    s = load(spark, sf_dir, "supplier")
    mod = F.col("s_nationkey") % 5
    return s.select(
        "s_suppkey",
        F.nullif(mod, F.lit(0)).alias("nation_mod_or_null"),
        F.greatest(F.col("s_acctbal"), F.lit(0.0)).alias("bal_floor0"),
        F.least(F.col("s_acctbal"), F.lit(1000.0)).alias("bal_cap1000"),
        F.when(F.col("s_acctbal") >= 0, "solvent").otherwise("debtor").alias("solvency"),
        F.coalesce(F.nullif(mod, F.lit(0)), F.lit(-1)).alias("mod_defaulted"),
    )


@register(
    "events_hourly_heatmap",
    oracle="""
    SELECT dayofweek(ts) AS dow,
           hour(ts) AS hr,
           event_type,
           COUNT(*) AS cnt,
           COUNT(DISTINCT user_id) AS unique_users
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic heatmap: day-of-week × hour × type counts — the classic ops
    dashboard matrix. Cross-engine calendar trap: Spark's dayofweek is
    1=Sunday, DuckDB's is 0=Sunday, so the Spark side subtracts 1 to align.
    Counts only (no float sums) → exact parity; single partial-agg pass.
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").alias("hr"),
        "event_type",
    ).agg(
        F.count("*").alias("cnt"),
        F.countDistinct("user_id").alias("unique_users"),
    )


@register(
    "window_pct_change",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, cnt,
           ROUND((cnt - LAG(cnt) OVER w) / LAG(cnt) OVER w, 6) AS pct_change
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def window_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day percent change per event type — lag composed over a
    pre-aggregated integer series (SURVEY.md §2.5). Integer inputs make
    the ratio deterministic; first day of each series is NULL by lag
    semantics on both engines.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("cnt").over(w)
    return daily.select(
        "event_type",
        "day",
        "cnt",
        F.round((F.col("cnt") - prev) / prev, 6).alias("pct_change"),
    )


@register(
    "join_salted_skew",
    oracle="""
    SELECT s_nationkey,
           COUNT(*) AS li_cnt,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS qty_sum
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join AS a first-class query (SURVEY.md §2.3/§7.6): the
    fact side is joined to the supplier dim through salted_join — each key
    split over 8 salts, dim replicated 8× — then aggregated per nation.
    The oracle is the PLAIN join's SQL: salting must change the
    partitioning and nothing else, and here that equivalence is
    hash-checked by the driver, not just asserted in a unit test.
    """
    from classification_problem_with_pyspark_spark.operators.joins import salted_join

    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey", "l_quantity")
    sup = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    j = salted_join(li, sup, key="l_suppkey", unique_col="l_orderkey", salt_n=8)
    return j.groupBy("s_nationkey").agg(
        F.count("*").alias("li_cnt"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).alias(
            "qty_sum"
        ),
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH q AS (
        SELECT event_type, CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS v
        FROM events
    ), m AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv,
               CAST(SUM(CAST(v AS DECIMAL(18,6)) * CAST(v AS DECIMAL(18,6)))
                    AS DOUBLE) AS svv
        FROM q GROUP BY event_type
    ), s AS (
        SELECT event_type, n, sv / n AS mean_v,
               SQRT((svv - sv * sv / n) / (n - 1)) AS std_v
        FROM m
    )
    SELECT q.event_type,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE ABS((q.v - s.mean_v) / s.std_v) > 3)
               AS outlier_cnt,
           ROUND(MIN(s.mean_v), 6) AS mean_value,
           ROUND(MIN(s.std_v), 6) AS std_value
    FROM q JOIN s USING (event_type)
    GROUP BY q.event_type
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection per event type: count values more than
    3 sample-stddevs from the mean. The raw double `value` is quantized to
    DECIMAL(18,6) first (binary doubles are never exact decimal midpoints,
    so both engines round identically), moments are summed EXACTLY in
    decimal, and mean/std/z all derive from the exact sums with the same
    expression tree on both engines — the same determinism recipe as
    agg_corr_covar, extended to a per-row predicate. Two passes over
    events: a 5-group moment agg, then a broadcast join of those 5 rows
    back onto the scan — both scale-clean.
    """
    e = load(spark, sf_dir, "events")
    vq = F.col("value").cast("decimal(18,6)")
    q = e.select("event_type", vq.cast("double").alias("v"))
    vq2 = F.col("v").cast("decimal(18,6)")
    m = q.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(vq2).cast("double").alias("sv"),
        F.sum(vq2 * vq2).cast("double").alias("svv"),
    )
    s = m.select(
        "event_type",
        (F.col("sv") / F.col("n")).alias("mean_v"),
        F.sqrt(
            (F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")) / (F.col("n") - 1)
        ).alias("std_v"),
    )
    z = F.abs((F.col("v") - F.col("mean_v")) / F.col("std_v"))
    return (
        q.join(F.broadcast(s), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_if(z > 3).alias("outlier_cnt"),
            F.round(F.min("mean_v"), 6).alias("mean_value"),
            F.round(F.min("std_v"), 6).alias("std_value"),
        )
    )


@register(
    "agg_percentiles_approx",
    oracle=None,  # sketch output is estimate-valued; gated by a closeness test
)
def agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the 100-TB twin of agg_percentiles: mergeable
    Greenwald-Khanna sketch, bounded memory per group, one pass, no full
    sort. Rows-only for the driver; tests/test_scale_helpers.py asserts
    every estimate lands within the sketch's accuracy bound of the exact
    percentile (relative error <= 1/accuracy = 1%).
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_quantity, 0.5, 100)").alias("qty_median_approx"),
        F.expr("approx_percentile(l_quantity, 0.9, 100)").alias("qty_p90_approx"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 100)").alias(
            "price_median_approx"
        ),
    )


@register(
    "llm_dedup_cluster_cc",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ts
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM toks a
        JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
              / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.8
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach AS (
        SELECT doc_id AS id, doc_id AS root FROM documents
        UNION
        SELECT e.dst AS id, r.root FROM reach r JOIN edges e ON e.src = r.id
    ), clusters AS (
        SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id
    )
    SELECT c.doc_id, c.cluster_id, s.cluster_size,
           c.doc_id = c.cluster_id AS is_canonical
    FROM clusters c
    JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
          FROM clusters GROUP BY cluster_id) s USING (cluster_id)
    """,
)
def llm_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the Jaccard ≥ 0.8
    pair graph, so transitively-linked duplicates (A~B, B~C but A≁C)
    collapse into ONE cluster — pairwise dedup alone over-keeps. Each doc
    gets cluster_id = min doc_id in its component (the canonical keeper),
    plus the cluster size; singletons are their own cluster.

    Algorithm: min-label propagation (plans/components.py), which needs
    as many rounds as the widest component's diameter. At 100 TB the
    round count stays bounded because near-dup components are
    tiny-diameter by construction; past the cap the key raises.

    Oracle: DuckDB recursive CTE propagating roots over the symmetrized
    edge set; MIN(root) per node is exactly the component minimum.
    """
    pairs = llm_dedup_cluster_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    ids = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    # 25 rounds: far above the diameter of a near-dup component
    labels = min_label_components(edges, ids, 25, "llm_dedup_cluster_cc")

    clusters = labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return clusters.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def llm_dedup_cluster_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge list for CC clustering: lang-blocked token-set Jaccard ≥ 0.8
    (same pair semantics as llm_dedup_ngram_jaccard, keys only).

    Scale note: this is the lang-blocked EXACT pair gen — O(Σ block²)
    candidates, the oracle-checkable twin. At 100 TB candidate pairs
    come from banded MinHash-LSH instead (llm_dedup_pipeline_exact runs
    that full shape: bands → verify → CC on the same CC primitive)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("ts")
    )
    a = toks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("ts").alias("ts_a"),
    )
    b = toks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("ts").alias("ts_b"),
    )
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size("ts_a") + F.size("ts_b") - inter
    return (
        a.join(
            b, (F.col("lang_a") == F.col("lang_b")) & (F.col("doc_a") < F.col("doc_b"))
        )
        .where(inter.cast("double") / union >= 0.8)
        .select("doc_a", "doc_b")
    )


@register(
    "scalar_string_suite2",
    oracle="""
    SELECT c_custkey,
           lpad(c_name, 25, '*') AS padded_l,
           rpad(c_name, 25, '.') AS padded_r,
           repeat(substring(c_name, 1, 3), 2) AS prefix_twice,
           reverse(c_name) AS name_rev,
           ascii(c_name) AS first_code,
           right(c_name, 5) AS last5
    FROM customer
    """,
)
def scalar_string_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function family (SURVEY.md §2.8): pad/repeat/reverse/
    ascii/suffix — row-parallel JVM expressions, no shuffle at all.
    Spark spells right(s, n) as substring(s, -n, n); equivalent for the
    fixed-format c_name values (always longer than 5).
    """
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lpad("c_name", 25, "*").alias("padded_l"),
        F.rpad("c_name", 25, ".").alias("padded_r"),
        F.repeat(F.substring("c_name", 1, 3), 2).alias("prefix_twice"),
        F.reverse("c_name").alias("name_rev"),
        F.ascii("c_name").alias("first_code"),
        F.substring("c_name", -5, 5).alias("last5"),
    )
