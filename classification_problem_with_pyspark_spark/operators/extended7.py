"""Round-3 extension pack #7: corpus-hygiene and time-series completions —
a deterministic SemDeDup (cell-bucketed semantic dedup) variant, linear
gap interpolation over resampled series, a forward as-of join, and the
Mann-Kendall trend test.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. All patterns here are public
knowledge — SemDeDup (Abbas et al. 2023), the Mann-Kendall nonparametric
trend test, and standard time-series linear interpolation — expressed on
the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (the round-3 lesson, extended6 precedent): every
cross-row float aggregate folds INTEGER micro-units (per-element round →
exact BIGINT sum); the only double math is single deterministic expressions
evaluated identically on both engines; DuckDB SUM(BIGINT)→HUGEINT
promotions never reach an output column (tests/parity.py bans them).

Scale posture (SURVEY.md §7.6):
- SemDeDup bounds the quadratic stage inside hyperplane-sign cells —
  the cell count grows with the corpus (more planes), keeping per-cell
  candidate sets worker-sized; this is the same bucket-then-verify shape
  as the MinHash/LSH keys.
- Interpolation and Mann-Kendall run over bounded per-type aggregates
  (hours/days), never raw events; the forward as-of is one shuffle by
  user + one ordered pass (the join_asof_events posture, reversed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.vector import cosine_similarity
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

TS_FMT_US = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_S = "yyyy-MM-dd HH:mm:ss"


@register(
    "emb_semdedup",
    oracle="""
    WITH cells AS (
        SELECT vec_id, embedding,
               (CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END
              + CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) AS cell
        FROM embeddings
    ), dups AS (
        SELECT a.vec_id, MIN(b.vec_id) AS dup_of
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND b.vec_id < a.vec_id
        WHERE list_cosine_similarity(
                  list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                  list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.4
        GROUP BY a.vec_id
    )
    SELECT c.vec_id, c.cell, d.dup_of, d.dup_of IS NOT NULL AS is_dropped
    FROM cells c LEFT JOIN dups d USING (vec_id)
    """,
)
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SemDeDup (SURVEY.md §2.12): semantic dedup in
    embedding space — vectors land in cells keyed by the SIGN PATTERN of
    their first 4 dimensions (an axis-aligned LSH: 16 cells here), and
    within each cell every vector with a lower-id neighbor at cosine
    ≥ 0.4 is marked dropped, keeping the minimum id as the survivor.

    SemDeDup proper (Abbas et al. 2023) uses k-means cells; signs of
    fixed dimensions are the deterministic, SQL-expressible stand-in
    that makes this key hash-checkable (the k-means variant is the
    rows-only `llm_similarity_ivf`/`_sharded` family). Scale shape: the
    quadratic stage is bounded per cell, and the cell count grows with
    the corpus (more sign planes) so candidate sets stay worker-sized;
    cells are the shuffle key — each executor dedups its own cells.
    12 of 500 vectors drop at sf0.01 (random vectors are the hardest
    case for semantic dedup; real corpora cluster far more).
    """
    e = load(spark, sf_dir, "embeddings")
    cell = (
        F.when(F.element_at("embedding", 1) >= 0, 8).otherwise(0)
        + F.when(F.element_at("embedding", 2) >= 0, 4).otherwise(0)
        + F.when(F.element_at("embedding", 3) >= 0, 2).otherwise(0)
        + F.when(F.element_at("embedding", 4) >= 0, 1).otherwise(0)
    )
    cells = spread(e.select("vec_id", "embedding", cell.alias("cell")), "cell")
    a = cells.select(
        F.col("vec_id").alias("vid_a"),
        F.col("embedding").alias("emb_a"),
        F.col("cell").alias("cell_a"),
    )
    b = cells.select(
        F.col("vec_id").alias("vid_b"),
        F.col("embedding").alias("emb_b"),
        F.col("cell").alias("cell_b"),
    )
    dups = (
        a.join(b, (F.col("cell_a") == F.col("cell_b")) & (F.col("vid_b") < F.col("vid_a")))
        .where(cosine_similarity(F.col("emb_a"), F.col("emb_b")) >= 0.4)
        .groupBy(F.col("vid_a").alias("vec_id"))
        .agg(F.min("vid_b").alias("dup_of"))
    )
    return (
        cells.select("vec_id", "cell")
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "dup_of",
            F.col("dup_of").isNotNull().alias("is_dropped"),
        )
    )


@register(
    "window_linear_interpolate",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               SUM(CAST(round(value * 1000000) AS BIGINT)) AS v_micro
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
    ), spine AS (
        SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ), j AS (
        SELECT s.event_type, s.h, hr.v_micro
        FROM spine s LEFT JOIN hourly hr USING (event_type, h)
    ), f AS (
        SELECT event_type, h, v_micro,
            last_value(v_micro IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
            last_value(CASE WHEN v_micro IS NOT NULL THEN h END IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
            first_value(v_micro IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
            first_value(CASE WHEN v_micro IS NOT NULL THEN h END IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        FROM j
    )
    SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
           ROUND(CASE WHEN v_micro IS NOT NULL THEN v_micro / 1000000.0
                 ELSE (pv + (nv - pv) * ((epoch(h) - epoch(pt))
                                         / (epoch(nt) - epoch(pt)))) / 1000000.0
                 END, 6) AS value_interp,
           (v_micro IS NULL) AS was_gap
    FROM f
    """,
)
def window_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation (SURVEY.md §2.5): resample each event
    type's hourly value sum onto its dense hour spine and fill the 215
    missing hours (sf0.01) by linear interpolation between the previous
    and next OBSERVED hours — the imputation step between LOCF
    (`window_locf_fill`) and model-based filling.

    Hour sums fold exact µ-unit BIGINTs (order-insensitive); the
    interpolation itself is ONE double expression — pv + (nv−pv)·Δt/ΔT
    on integral epoch seconds — evaluated identically on both engines,
    then rounded once. Spine rows bound the series to [first, last]
    observed hour per type, so prev/next always exist. Scale: windows
    run over the bounded (type, hour) aggregate (720 rows/type), never
    raw events; the fact pass is one partial-agg shuffle.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("v_micro")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    j = spine.join(hourly, ["event_type", "h"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_h = F.when(F.col("v_micro").isNotNull(), F.col("h"))
    f = j.select(
        "event_type",
        "h",
        "v_micro",
        F.last("v_micro", ignorenulls=True).over(wp).alias("pv"),
        F.last(known_h, ignorenulls=True).over(wp).alias("pt"),
        F.first("v_micro", ignorenulls=True).over(wn).alias("nv"),
        F.first(known_h, ignorenulls=True).over(wn).alias("nt"),
    )
    frac = (F.unix_timestamp("h") - F.unix_timestamp("pt")) / (
        F.unix_timestamp("nt") - F.unix_timestamp("pt")
    )
    interp = (F.col("pv") + (F.col("nv") - F.col("pv")) * frac) / F.lit(1000000.0)
    return f.select(
        "event_type",
        F.date_format("h", TS_FMT_S).alias("hour_start"),
        F.round(
            F.when(
                F.col("v_micro").isNotNull(), F.col("v_micro") / F.lit(1000000.0)
            ).otherwise(interp),
            6,
        ).alias("value_interp"),
        F.col("v_micro").isNull().alias("was_gap"),
    )


@register(
    "join_asof_forward",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
        FROM events WHERE event_type IN ('click', 'purchase')
    ), w AS (
        SELECT *, MIN(CASE WHEN tag = 1 THEN ts END) OVER (
            PARTITION BY user_id ORDER BY ts, tag
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_ts
        FROM tagged
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           strftime(next_purchase_ts, '%Y-%m-%d %H:%M:%S.%f') AS next_purchase_ts,
           date_diff('microsecond', ts, next_purchase_ts) AS gap_us
    FROM w WHERE tag = 0 AND next_purchase_ts IS NOT NULL
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (SURVEY.md §2.3): for each click, the EARLIEST
    purchase at-or-after it by the same user — conversion attribution,
    the time-reversed twin of `join_asof_events` (which looks backward).

    Same scale shape as the backward key: union + tag + ONE window pass
    (shuffle by user, ordered scan) instead of a conditional self-join
    that goes quadratic per hot user. Clicks tag 0 / purchases tag 1 so
    an equal-timestamp purchase sorts INSIDE the click's forward frame —
    `>=` semantics; MIN over the frame is order-insensitive under ties.
    DuckDB's native ASOF JOIN only looks backward, so the oracle uses
    the identical window formulation. Inner semantics: clicks with no
    later purchase drop on both sides. The gap is exact integer µs.
    """
    e = load(spark, sf_dir, "events")
    tagged = e.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    out = tagged.withColumn(
        "next_purchase_ts", F.min(F.when(F.col("tag") == 1, F.col("ts"))).over(w)
    )
    return (
        out.where((F.col("tag") == 0) & F.col("next_purchase_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", TS_FMT_US).alias("click_ts"),
            F.date_format("next_purchase_ts", TS_FMT_US).alias("next_purchase_ts"),
            (F.unix_micros("next_purchase_ts") - F.unix_micros("ts")).alias("gap_us"),
        )
    )


@register(
    "events_trend_mann_kendall",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               SUM(CAST(round(value * 1000000) AS BIGINT)) AS v
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.event_type,
               CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.d < b.d
    ), s AS (
        SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat FROM pairs GROUP BY event_type
    ), n AS (
        SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY event_type
    ), ties AS (
        SELECT event_type,
               CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie_term
        FROM (SELECT event_type, v, COUNT(*) AS tc FROM daily GROUP BY 1, 2) t
        WHERE tc > 1 GROUP BY event_type
    ), v AS (
        SELECT n.event_type, n.n_days, s.s_stat,
               (n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                - COALESCE(t.tie_term, 0)) / 18.0 AS var_s
        FROM n JOIN s USING (event_type)
        LEFT JOIN ties t ON n.event_type = t.event_type
    )
    SELECT event_type, n_days, s_stat, ROUND(var_s, 6) AS var_s,
           ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                      WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                      ELSE 0.0 END, 6) AS z_score,
           CASE WHEN s_stat > 0 AND (s_stat - 1) / sqrt(var_s) > 1.959964
                    THEN 'increasing'
                WHEN s_stat < 0 AND (s_stat + 1) / sqrt(var_s) < -1.959964
                    THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM v
    """,
)
def events_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (SURVEY.md §2.9 adjunct): the standard
    nonparametric monotone-trend detector over each event type's daily
    value series — S = Σ_{i<j} sign(vⱼ−vᵢ), tie-corrected variance,
    continuity-corrected z, and the α=0.05 two-sided verdict. The robust
    complement of `events_cusum_drift` (level shifts) and
    `events_forecast_naive_error` (short-horizon error).

    Exactness: daily sums are µ-unit BIGINTs, S and the tie term are
    exact integers from integer comparisons, variance is one rational,
    and z is a single sqrt expression shared verbatim with the oracle —
    the pair-sign self-join runs over the bounded 30-row-per-type daily
    aggregate (435 pairs/type), never raw events. At scale the O(n²)
    pair stage stays bounded because n is the RESAMPLED series length;
    for very long series swap in the O(n log n) merge-sort inversion
    count — same S, different plan.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("v")
    )
    a = daily.select(
        F.col("event_type"), F.col("d").alias("d_a"), F.col("v").alias("v_a")
    )
    b = daily.select(
        F.col("event_type").alias("et_b"), F.col("d").alias("d_b"), F.col("v").alias("v_b")
    )
    sgn = (
        F.when(F.col("v_b") > F.col("v_a"), 1)
        .when(F.col("v_b") < F.col("v_a"), -1)
        .otherwise(0)
    )
    s = (
        a.join(b, (F.col("event_type") == F.col("et_b")) & (F.col("d_a") < F.col("d_b")))
        .groupBy("event_type")
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    n = daily.groupBy("event_type").agg(F.count("*").alias("n_days"))
    tc = F.col("tc")
    ties = (
        daily.groupBy("event_type", "v")
        .agg(F.count("*").alias("tc"))
        .where(tc > 1)
        .groupBy("event_type")
        .agg(F.sum(tc * (tc - 1) * (2 * tc + 5)).cast("long").alias("tie_term"))
    )
    var_s = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0))
    ) / F.lit(18.0)
    zpos = (F.col("s_stat") - 1) / F.sqrt(F.col("var_s"))
    zneg = (F.col("s_stat") + 1) / F.sqrt(F.col("var_s"))
    return (
        n.join(s, "event_type")
        .join(ties, "event_type", "left")
        .withColumn("var_s", var_s)
        .select(
            "event_type",
            "n_days",
            "s_stat",
            F.round("var_s", 6).alias("var_s"),
            F.round(
                F.when(F.col("s_stat") > 0, zpos)
                .when(F.col("s_stat") < 0, zneg)
                .otherwise(F.lit(0.0)),
                6,
            ).alias("z_score"),
            F.when((F.col("s_stat") > 0) & (zpos > 1.959964), "increasing")
            .when((F.col("s_stat") < 0) & (zneg < -1.959964), "decreasing")
            .otherwise("no_trend")
            .alias("trend"),
        )
    )


@register(
    "window_rank_variants",
    oracle="""
    WITH monthly AS (
        SELECT o_orderpriority AS priority,
               strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2
    )
    SELECT priority, month, cnt,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           ROUND(PERCENT_RANK() OVER w, 6) AS prank,
           ROUND(CUME_DIST() OVER w, 6) AS cdist
    FROM monthly
    WINDOW w AS (PARTITION BY priority ORDER BY cnt DESC, month)
    """,
)
def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function completion (SURVEY.md §2.5): RANK / DENSE_RANK /
    PERCENT_RANK / CUME_DIST side by side over per-priority monthly order
    counts — the §2.5 family had row_number/ntile but not the
    distribution ranks.

    The month tie-break makes the order total, so the two distribution
    functions are exact rationals k/n — deterministic doubles after one
    round. Windows run over the bounded (priority, month) aggregate
    (~400 rows), partitioned by priority — never a global sort of facts.
    """
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("priority").orderBy(F.desc("cnt"), F.asc("month"))
    return monthly.select(
        "priority",
        "month",
        "cnt",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "source_xml_roundtrip",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY lang
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source roundtrip (Spark 4's built-in XML data source): write
    `documents` as XML (rowTag=doc), read it back with the catalog's
    EXPLICIT StructType (never schema inference — SURVEY.md §1.3),
    aggregate per lang. Oracle = the same aggregation on the original
    parquet: a hash match proves the XML encode/decode (including entity
    escaping of text content) is lossless for int64/string columns.

    Scale note: XML is an ingestion-edge format like JSONL — row-oriented,
    no pushdown, verbose — read once with a pinned schema, landed as
    parquet for real work. Avro remains undeclared: its data source module
    is external to the Spark distribution and absent in this container.
    """
    from classification_problem_with_pyspark_spark.sources.catalog import SCHEMAS, stage_dir

    d = load(spark, sf_dir, "documents")
    path = stage_dir("xml_documents")
    d.write.mode("overwrite").option("rootTag", "docs").option("rowTag", "doc").xml(path)
    back = spark.read.schema(SCHEMAS["documents"]).option("rowTag", "doc").xml(path)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register(
    "events_session_window_native",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('microsecond', LAG(ts) OVER w, ts)
                            > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sess
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f')
               AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_micro
    FROM numbered GROUP BY user_id, sess
    """,
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `F.session_window` in BATCH (SURVEY.md §2.9): the same
    30-minute-gap sessionization as `stream_session_30m`, but through
    Spark's built-in session-window operator instead of the
    gaps-and-islands rewrite — covering the API the streaming wrapper
    uses, hash-checked.

    Boundary semantics measured, not assumed: Spark merges when the gap
    is EXACTLY the gap duration ([ts, ts+30m) windows overlap-merge on
    closed-open interval contact), so the oracle's new-session flag is
    strictly `> 30min` at µs precision; session_end is last_event+gap by
    definition on both sides. Value sums fold exact µ-units. Scale: the
    operator shuffles once on user_id and merges sorted runs per key —
    the same single-pass cost as the manual rewrite.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("value_micro"),
        )
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT_US).alias("session_start"),
            F.date_format("w.end", TS_FMT_US).alias("session_end"),
            "n_events",
            "value_micro",
        )
    )
