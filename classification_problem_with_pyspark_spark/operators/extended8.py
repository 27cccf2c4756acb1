"""Round-3 extension pack #8: operational-analytics and sampling
completions — data-freshness SLA auditing, the Theil–Sen robust trend
estimator (paired with the Mann–Kendall test from pack #7), a true
interval-overlap join (distinct from the point-in-range `join_range_*`
shapes), deterministic weighted sampling by hash priority, and a
distributed BPE merge-learning loop over the documents corpus.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. All patterns here are public
knowledge — Theil–Sen (Sen 1968), weighted sampling by uniform-over-weight
priority (the Efraimidis–Spirakis 2006 A-ES family, here with a
hash-derived uniform so both engines agree bit-for-bit), byte-pair
encoding merge learning (Sennrich et al. 2016) — expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): every cross-row float
aggregate folds INTEGER micro-units or exact BIGINT counts; the only
double math is single deterministic expressions (one division, one
comparison) evaluated identically on both engines; medians are LOWER
medians picked by integer rank, never interpolated; DuckDB
SUM(BIGINT)→HUGEINT promotions never reach an output column
(tests/parity.py bans them).

Scale posture (SURVEY.md §7.6):
- Freshness SLA is one scan + a 1-row broadcast of the corpus max —
  no second pass, no driver round-trip.
- Theil–Sen self-joins BOUNDED per-group daily aggregates (~30 rows per
  event_type ⇒ ~435 pairs), never raw events; the pair stage is
  O(days²) per group by construction, independent of event volume.
- The interval-overlap join is banded by day (equi-key) with the
  overlap predicate applied inside each day band — never a cartesian;
  at 100 TB widen the band key to (day, hour) to cap band width.
- Weighted sampling is one shuffle on lang for the rank window; at
  100 TB pre-filter with an approximate per-lang priority threshold
  (the classic top-k two-pass trick) so the window sees ~k·P rows.
- BPE learning shuffles (pair → count) per round with the corpus
  re-used from a cached token table; rounds are few (5) and each is a
  standard partial-agg groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows


@register(
    "audit_freshness_sla",
    oracle="""
    WITH g AS (SELECT max(ts) AS gmax FROM events),
    per AS (
        SELECT e.event_type,
               max(e.ts) AS last_ts,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN e.ts >= g.gmax - INTERVAL 24 HOUR
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_last_day
        FROM events e CROSS JOIN g
        GROUP BY e.event_type
    )
    SELECT p.event_type, p.last_ts,
           epoch_us(g.gmax) - epoch_us(p.last_ts) AS lag_micros,
           p.n_events, p.n_last_day,
           (epoch_us(g.gmax) - epoch_us(p.last_ts)) > 1800000000 AS sla_breach
    FROM per p CROSS JOIN g
    ORDER BY p.event_type
    """,
)
def audit_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA audit (SURVEY.md §2.14): per event_type, the
    last-seen timestamp, its lag behind the corpus watermark in exact
    microseconds, total volume, volume in the trailing 24 h window, and
    an SLA-breach flag at 30 min of staleness (at sf0.01 the `error`
    and `purchase` feeds breach: 2 009 s and 1 935 s of lag).

    The shape every ingestion pipeline runs hourly: one scan of the
    fact, a 1-row global-max broadcast joined back so the trailing-24 h
    conditional count happens in the SAME single aggregation pass (no
    second scan), exact integer microsecond arithmetic end-to-end.
    Scale: the 1-row cross join is broadcast by AQE; the groupBy
    partial-aggregates map-side; nothing but (type, max, counts)
    shuffles.
    """
    e = load(spark, sf_dir, "events")
    gmax = e.agg(F.max("ts").alias("gmax"))
    per = (
        e.crossJoin(F.broadcast(gmax))
        .groupBy("event_type")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("n_events"),
            F.sum(
                F.when(
                    F.col("ts") >= F.col("gmax") - F.expr("INTERVAL 24 HOURS"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_last_day"),
        )
    )
    lag = F.unix_micros(F.col("gmax")) - F.unix_micros(F.col("last_ts"))
    return (
        per.crossJoin(F.broadcast(gmax))
        .select(
            "event_type",
            "last_ts",
            lag.alias("lag_micros"),
            "n_events",
            "n_last_day",
            (lag > F.lit(1800000000)).alias("sla_breach"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_theil_sen",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.event_type,
               CAST(floor(1000000.0 * (b.cnt - a.cnt)
                          / date_diff('day', a.day, b.day)) AS BIGINT)
                   AS slope_micro
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.day > a.day
    ), ranked AS (
        SELECT event_type, slope_micro,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope_micro) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_pairs
        FROM pairs
    )
    SELECT r.event_type,
           d.n_days,
           CAST(r.n_pairs AS BIGINT) AS n_pairs,
           r.slope_micro AS ts_slope_micro_per_day
    FROM ranked r
    JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
          FROM daily GROUP BY 1) d USING (event_type)
    WHERE r.rn = (r.n_pairs + 1) // 2
    ORDER BY r.event_type
    """,
)
def agg_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope (SURVEY.md §2.13): per event_type,
    the median of all pairwise slopes of the daily-count series — the
    standard robust alternative to OLS (breaks down only past 29%
    outliers), and the effect-size companion to pack #7's Mann–Kendall
    direction test (`events_trend_mann_kendall`).

    Determinism contract: slopes are folded to floor(1e6·Δcnt/Δday)
    BIGINT micro-units (one IEEE division + floor, identical on both
    engines) and the median is the LOWER median picked by integer rank
    rn == (n+1)/2 — never interpolated, so even-count groups stay
    exact. At sf0.01: 30 days/type ⇒ 435 pairs/type; `view` trends
    +0.083 events/day, `purchase` −0.25.

    Scale: the quadratic stage runs over the per-type DAILY aggregate
    (bounded by the calendar, ~365 rows/yr/type), never raw events —
    the same bounded-series posture as autocorrelation and OHLC. The
    self-join is equi-keyed on event_type; groups are independent.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("cnt"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.floor(
            1000000.0
            * (F.col("b.cnt") - F.col("a.cnt"))
            / F.datediff(F.col("b.day"), F.col("a.day"))
        )
        .cast("long")
        .alias("slope_micro"),
    )
    wrank = Window.partitionBy("event_type").orderBy("slope_micro")
    wall = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope_micro",
        F.row_number().over(wrank).alias("rn"),
        F.count("*").over(wall).alias("n_pairs"),
    )
    n_days = daily.groupBy("event_type").agg(F.count("*").alias("n_days"))
    return (
        ranked.where(F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
        .join(F.broadcast(n_days), "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            F.col("slope_micro").alias("ts_slope_micro_per_day"),
        )
        .orderBy("event_type")
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH user_day AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               min(ts) AS a_start, max(ts) AS a_end
        FROM events GROUP BY 1, 2
    ), hourly AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               date_trunc('hour', ts) AS h_start,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2, 3
    ), thresh AS (
        SELECT event_type, avg(cnt) AS avg_cnt FROM hourly GROUP BY 1
    ), burst AS (
        SELECT h.event_type, h.day, h.h_start,
               h.h_start + INTERVAL 1 HOUR AS h_end, h.cnt
        FROM hourly h JOIN thresh t USING (event_type)
        WHERE h.cnt > 1.5 * t.avg_cnt
    )
    SELECT u.user_id, u.day,
           CAST(count(*) AS BIGINT) AS n_burst_windows,
           CAST(count(DISTINCT b.event_type) AS BIGINT) AS n_burst_types,
           CAST(sum(b.cnt) AS BIGINT) AS burst_events_total
    FROM user_day u JOIN burst b
      ON u.day = b.day AND u.a_start < b.h_end AND b.h_start <= u.a_end
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (SURVEY.md §2.5): per-user daily activity
    intervals [first event, last event] joined against per-type BURST
    windows (hours whose event count exceeds 1.5× that type's hourly
    average), on the standard two-interval overlap predicate
    a_start < b_end AND b_start <= a_end. Answers "which users were
    active during traffic bursts, and how exposed were they" — the
    incident-correlation shape; distinct from `join_range_events`
    (point-in-range) and `join_asof_*` (nearest-preceding).

    Both interval sets derive from the same single events scan (two
    groupBys); the overlap join is BANDED by the equi-key `day`, so
    Spark plans a hash join on day with the interval predicate as a
    residual filter inside each band — never a cartesian (plan-asserted
    in tests/test_extended8.py). At sf0.01: 517 burst windows, 3 505
    user-day exposure rows. Scale: band width is bounded by
    users-active-per-day × burst-hours-per-day; at 100 TB narrow the
    band key to (day, hour-of-interval-span) to cap it.

    Threshold determinism: avg(cnt) is one exact-integer sum / count
    (a single IEEE division) and 1.5× one multiplication — bit-identical
    on both engines, so the burst set matches exactly.
    """
    e = load(spark, sf_dir, "events")
    user_day = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.min("ts").alias("a_start"), F.max("ts").alias("a_end"))
    hourly = e.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.date_trunc("hour", "ts").alias("h_start"),
    ).agg(F.count("*").alias("cnt"))
    thresh = hourly.groupBy("event_type").agg(F.avg("cnt").alias("avg_cnt"))
    burst = (
        hourly.join(F.broadcast(thresh), "event_type")
        .where(F.col("cnt") > 1.5 * F.col("avg_cnt"))
        .select(
            "event_type",
            "day",
            "h_start",
            (F.col("h_start") + F.expr("INTERVAL 1 HOUR")).alias("h_end"),
            "cnt",
        )
    )
    return (
        user_day.join(
            burst,
            (user_day["day"] == burst["day"])
            & (F.col("a_start") < F.col("h_end"))
            & (F.col("h_start") <= F.col("a_end")),
        )
        .groupBy(user_day["user_id"], user_day["day"])
        .agg(
            F.count("*").alias("n_burst_windows"),
            F.countDistinct("event_type").alias("n_burst_types"),
            F.sum("cnt").alias("burst_events_total"),
        )
        .orderBy("user_id", "day")
    )


@register(
    "llm_sample_weighted_priority",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS UBIGINT) AS h
        FROM documents
        WHERE n_chars > 0
    ), ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(h AS DOUBLE) / n_chars, doc_id) AS rank
        FROM keyed
    )
    SELECT lang, CAST(rank AS BIGINT) AS sample_rank, doc_id, n_chars
    FROM ranked WHERE rank <= 20
    ORDER BY lang, sample_rank
    """,
)
def llm_sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling by hash priority (SURVEY.md
    §2.12): top-20 documents per lang under priority u/w, where u is a
    32-bit uniform derived from md5(doc_id) and w = n_chars. Ordering
    by uniform-over-weight selects each document with probability
    increasing in its weight — the deterministic, reproducible cousin
    of Efraimidis–Spirakis A-ES weighted reservoir sampling (A-ES uses
    u^(1/w); u/w has the same monotone-in-weight selection property
    without pow(), whose libm rounding differs across engines).

    Training-data use: length-weighted corpus subsampling that any two
    runs — or two ENGINES, as the oracle proves — reproduce exactly,
    because the "randomness" is a hash, not an RNG. The single double
    division u/w is one IEEE op (bit-identical both sides); ties broken
    by doc_id for a total order.

    Scale: one shuffle on lang for the rank window; at 100 TB pre-cut
    with a per-lang approximate priority threshold (classic two-pass
    top-k) so the exact window sees only ~k·P candidates per lang.
    """
    d = load(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    h = md5_long(F.col("doc_id").cast("string"), 8)
    keyed = d.select(
        "doc_id", "lang", "n_chars", (h.cast("double") / F.col("n_chars")).alias("pr")
    )
    w = Window.partitionBy("lang").orderBy("pr", "doc_id")
    return (
        keyed.select(
            "lang",
            F.row_number().over(w).alias("sample_rank"),
            "doc_id",
            "n_chars",
        )
        .where(F.col("sample_rank") <= 20)
        .orderBy("lang", "sample_rank")
    )


def bpe_learn(
    spark: SparkSession, sf_dir: str, n_rounds: int, keep_word: bool = False
):
    """Shared BPE merge-learning loop (see llm_bpe_merge_learn for the
    algorithm and scale notes). Returns (words_df, merges): the final
    per-word symbol table — with the original word string retained when
    keep_word, so appliers can join token counts back to documents —
    and the learned merge list [(step, left, right, count)].
    """
    d = load(spark, sf_dir, "documents")
    lead = ["word"] if keep_word else []
    words = spread(
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("wcnt"))
        .select(
            *lead,
            F.col("wcnt"),
            F.split(F.col("word"), "(?!^)").alias("syms"),
        )
    ).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_rounds + 1):
        pairs = (
            words.where(F.size("syms") >= 2)
            .select(
                "wcnt",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda l, r: F.struct(l.alias("l"), r.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("wcnt").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((step, l, r, cnt))
        merged = l + r
        words = words.select(
            *lead,
            F.col("wcnt"),
            F.filter(
                F.aggregate(
                    "syms",
                    F.array().cast("array<string>"),
                    lambda acc, s: F.when(
                        # try_element_at: NULL (not ANSI error) on the empty
                        # initial accumulator; NULL == l is false-y as needed
                        (F.try_element_at(acc, F.lit(-1)) == F.lit(l))
                        & (s == F.lit(r)),
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1),
                            F.array(F.lit(merged)),
                        ),
                    ).otherwise(F.concat(acc, F.array(s))),
                ),
                lambda s: F.length(s) > 0,
            ).alias("syms"),
        ).localCheckpoint()
    return words, merges


@register("llm_bpe_merge_learn")
def llm_bpe_merge_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (SURVEY.md §2.12), 6 rounds: start
    from the character sequence of each word (the Sennrich et al. 2016
    setup), and per round (a) count all adjacent symbol pairs across
    the corpus, (b) pick the most frequent pair — ties broken
    lexicographically so the run is deterministic — and (c) apply the
    merge corpus-wide. Emits the learned merge table (step, left,
    right, pair_count): the actual artifact a tokenizer trainer ships.

    Complements `llm_bpe_pair_stats` (one static pair count) with the
    real iterative algorithm. Rows-only by necessity: a 6-round
    argmax-and-rewrite loop is not one SQL statement; the quality gate
    in tests/test_extended8.py recomputes the merges with a pure-Python
    reference BPE on the same corpus at sf0.001 and requires the merge
    tables to be IDENTICAL.

    Scale shape: each round is (explode word → adjacent pairs) →
    map-side-combinable groupBy(pair) → a 1-row argmax broadcast back
    into a JVM-side transform() that rewrites each word's symbol array
    in place — the corpus table stays partition-resident; only pair
    counts shuffle. Rounds are few and fixed (BPE vocab learning is
    embarrassingly iterative; production trainers batch merges per
    round the same way). The word table is localCheckpoint'd per round
    to keep lineage flat (the llm_dedup_cluster_cc precedent).
    """
    _, merges = bpe_learn(spark, sf_dir, 6)
    return local_rows(spark, merges, "step long, left string, right string, pair_count long")
