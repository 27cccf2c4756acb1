"""Round-3 extension pack #25: k-anonymity privacy audit, content-defined
chunk dedup, and the Hampel rolling outlier filter.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — k-anonymity / l-diversity (Sweeney 2002; Machanavajjhala et
al. 2007), content-defined chunking for dedup (the LBFS/rsync/restic
rolling-boundary family, Muthitacharoen et al. 2001), and the Hampel
identifier (rolling median ± 3·MAD) — re-expressed on the public PySpark
DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): chunk boundaries are md5
residues of fixed-width substrings (no rolling-hash state, same bytes on
both engines); the Hampel filter works in DOUBLED units (2·median of an
integer window is always an integer; 4·MAD likewise), so the 3-sigma
test is a pure integer comparison; k/l are exact counts.

Scale posture (SURVEY.md §7.6): the privacy audit is one
map-side-combinable groupBy over the quasi-identifier key; chunking
explodes per-position only to FIND boundaries (the chunks themselves are
substrings, never per-char rows); the Hampel window runs on the bounded
(type, day) aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity privacy audit
# ---------------------------------------------------------------------------

K_THRESHOLD = 5


@register(
    "audit_k_anonymity",
    oracle=f"""
    WITH sens AS (
        SELECT o_custkey,
               max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                   AS has_urgent
        FROM orders GROUP BY o_custkey
    ),
    qi AS (
        SELECT c.c_nationkey, c.c_mktsegment,
               CAST(round(c.c_acctbal * 100) AS BIGINT) // 200000 AS bal_band,
               COALESCE(s.has_urgent, 0) AS sensitive
        FROM customer c LEFT JOIN sens s ON c.c_custkey = s.o_custkey
    )
    SELECT c_nationkey, c_mktsegment, bal_band,
           CAST(count(*) AS BIGINT) AS k_size,
           CAST(count(DISTINCT sensitive) AS BIGINT) AS l_diversity,
           count(*) < {K_THRESHOLD} AS is_reidentifiable
    FROM qi GROUP BY c_nationkey, c_mktsegment, bal_band
    ORDER BY c_nationkey, c_mktsegment, bal_band
    """,
)
def audit_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of the customer table
    (SURVEY.md §2.4 audit family): every equivalence class of the
    quasi-identifier (nation, market segment, 2000-dollar balance band)
    with its size k and the diversity l of a sensitive attribute
    (whether the customer ever placed an URGENT order) — the privacy
    report run before any customer-keyed dataset export. Classes under
    k=5 are re-identification risks (Sweeney 2002); classes with l=1
    leak the sensitive value even at large k (Machanavajjhala 2007).

    Exactness: balance bands fold from exact cents (round at the data's
    own 2-decimal precision, then integer division); k and l are exact
    counts; the k<5 flag is an integer comparison.

    Scale: the sensitive flag is one map-side-combinable groupBy on
    orders; the class report is one groupBy on the QI key. Both shuffle
    once on their natural keys — the audit costs what the export joins
    would cost anyway.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    sens = o.groupBy("o_custkey").agg(
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("has_urgent")
    )
    qi = c.join(sens, c.c_custkey == sens.o_custkey, "left").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT) DIV 200000").alias(
            "bal_band"
        ),
        F.coalesce("has_urgent", F.lit(0)).alias("sensitive"),
    )
    return (
        qi.groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(
            F.count("*").alias("k_size"),
            F.countDistinct("sensitive").alias("l_diversity"),
            (F.count("*") < K_THRESHOLD).alias("is_reidentifiable"),
        )
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup
# ---------------------------------------------------------------------------

CDC_W = 8  # boundary-decision substring width (chars)
CDC_MASK = 64  # boundary probability 1/64 → ~64-char expected chunks

# Shared CTE chain producing chunks(doc_id, total_chars, chunk_len,
# chunk_hash) — also imported by extension pack 33's shard-loss audit so
# the chunking definition lives in exactly one place.
CDC_CHUNKS_SQL = f"""
    pos AS (
        SELECT doc_id, length(text) AS total_chars, i,
               (CAST(('0x' || substr(md5(substr(text, i - {CDC_W - 1}, {CDC_W})),
                                     1, 15)) AS BIGINT) % {CDC_MASK} = 0
                OR i = length(text)) AS is_boundary
        FROM (
            SELECT doc_id, text, unnest(range({CDC_W}, length(text) + 1)) AS i
            FROM documents WHERE length(text) >= {CDC_W}
        ) x
    ),
    bounds AS (
        SELECT doc_id, total_chars, i,
               COALESCE(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS prev
        FROM pos WHERE is_boundary
    ),
    chunks AS (
        SELECT b.doc_id, b.total_chars,
               i - prev AS chunk_len,
               md5(substr(d.text, prev + 1, i - prev)) AS chunk_hash
        FROM bounds b JOIN documents d USING (doc_id)
    )
"""


def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, total_chars, chunk_len, chunk_hash) for every
    content-defined chunk — the shared pipeline behind
    llm_cdc_chunk_dedup and llm_shard_dedup_loss_audit."""
    # documents is one parquet file → one input partition; spread it
    # before the per-position explode + md5 (the heaviest per-row work in
    # the pack) so the scan parallelizes (single-file trap, BASELINE.md).
    d = spread(load(spark, sf_dir, "documents").where(F.length("text") >= CDC_W), "doc_id")
    pos = d.select(
        "doc_id",
        F.length("text").alias("total_chars"),
        F.explode(F.expr("sequence(8, length(text))")).alias("i"),
        F.col("text"),
    ).select(
        "doc_id",
        "total_chars",
        "i",
        (
            (md5_long(F.expr(f"substr(text, i - {CDC_W - 1}, {CDC_W})")) % CDC_MASK == 0)
            | (F.col("i") == F.col("total_chars"))
        ).alias("is_boundary"),
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    bounds = pos.where("is_boundary").select(
        "doc_id",
        "total_chars",
        "i",
        F.coalesce(F.lag("i").over(w), F.lit(0)).alias("prev"),
    )
    return bounds.join(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "total_chars",
        (F.col("i") - F.col("prev")).alias("chunk_len"),
        F.md5(F.expr("substr(text, prev + 1, i - prev)")).alias("chunk_hash"),
    )


@register(
    "llm_cdc_chunk_dedup",
    oracle=f"""
    WITH {CDC_CHUNKS_SQL},
    copies AS (
        SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_copies
        FROM chunks GROUP BY chunk_hash
    )
    SELECT c.doc_id,
           CAST(max(c.total_chars) AS BIGINT) AS total_chars,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN p.n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(SUM(CASE WHEN p.n_copies >= 2 THEN c.chunk_len ELSE 0 END)
                AS BIGINT) AS dup_chars,
           CAST((1000000 * SUM(CASE WHEN p.n_copies >= 2 THEN c.chunk_len
                                    ELSE 0 END)) // max(c.total_chars)
                AS BIGINT) AS dup_micro
    FROM chunks c JOIN copies p USING (chunk_hash)
    GROUP BY c.doc_id
    """,
)
def llm_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup report (SURVEY.md §2.12): each
    document split at content-derived boundaries (positions where the
    hash of the trailing 8 chars ≡ 0 mod 64 → ~64-char expected chunks),
    then every chunk hashed and matched across the corpus — the
    LBFS/restic recipe that keeps chunk boundaries STABLE under
    insertions (a fixed-size chunker shifts every boundary after an
    edit; a content-defined one re-localizes), which is what makes
    chunk-level dedup work on evolving corpora. Per doc: chunk count and
    the share of characters living in chunks duplicated anywhere else.

    Exactness: boundaries come from md5 of the literal substring (no
    rolling-hash register to keep in sync across engines); chunk
    reassembly is substr between consecutive boundary positions — the
    per-position explode only FINDS boundaries, chunks are never built
    from per-char rows; the dup share folds floor-micro over exact
    char counts.

    Scale: position fan-out is O(total bytes) with a tiny row payload
    (doc_id, int, bool) and collapses back to ~len/64 boundary rows
    before the window; chunk-hash matching is one map-side-combinable
    groupBy. At 100 TB the boundary scan runs as a mapInPandas rolling
    hash (true Rabin fingerprint) with identical boundary semantics.
    """
    chunks = cdc_chunks(spark, sf_dir)
    copies = chunks.groupBy("chunk_hash").agg(F.count("*").alias("n_copies"))
    dup = (F.col("n_copies") >= 2).cast("long")
    return chunks.join(copies, "chunk_hash").groupBy("doc_id").agg(
        F.max("total_chars").cast("long").alias("total_chars"),
        F.count("*").alias("n_chunks"),
        F.sum(dup).alias("n_dup_chunks"),
        F.sum(dup * F.col("chunk_len")).alias("dup_chars"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN n_copies >= 2 THEN chunk_len"
            " ELSE 0 END)) DIV max(total_chars) AS BIGINT)"
        ).alias("dup_micro"),
    )


# ---------------------------------------------------------------------------
# Hampel rolling outlier filter
# ---------------------------------------------------------------------------


@register(
    "window_hampel_filter",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    framed AS (
        SELECT event_type, day, n_events,
               list(n_events) OVER (PARTITION BY event_type ORDER BY day
                                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS win
        FROM daily
    ),
    med AS (
        SELECT event_type, day, n_events, win,
               len(win) AS n,
               list_sort(win) AS s
        FROM framed
    ),
    stats AS (
        SELECT event_type, day, n_events, win, n,
               s[(n + 1) // 2] + s[n // 2 + 1] AS med2
        FROM med
    ),
    mad AS (
        SELECT event_type, day, n_events, n, med2,
               list_sort(list_transform(win, v -> abs(2 * v - med2))) AS sd
        FROM stats
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_events,
           CAST(med2 AS BIGINT) AS med2_7d,
           CAST(sd[(n + 1) // 2] + sd[n // 2 + 1] AS BIGINT) AS mad4_7d,
           2 * abs(2 * n_events - med2)
               > 3 * (sd[(n + 1) // 2] + sd[n // 2 + 1]) AS is_outlier
    FROM mad ORDER BY event_type, day
    """,
)
def window_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel identifier over daily event counts (SURVEY.md §2.5): each
    day flagged when it sits more than 3 robust sigmas (3·MAD) from its
    own 7-day rolling MEDIAN — the filter monitoring stacks use instead
    of z-scores because one spike day corrupts a rolling mean AND its
    stddev for a week, but leaves median and MAD untouched; the
    center-dependent MAD makes this strictly stronger than
    `window_rolling_median` + `events_anomaly_mad` (whose baseline is
    global, not rolling).

    Exactness: the whole test runs in DOUBLED integer units — 2·median
    of an integer window is an integer (lo+hi order statistics), the
    deviations |2v − med2| are integers, 4·MAD is their lo+hi sum, and
    the 3-sigma test folds to 2·|2x − med2| > 3·mad4. No halves, no
    floats, no interpolation anywhere.

    Scale: the frame holds 7 ints on the bounded (type, day) aggregate;
    MAD needs the window CONTENTS (deviations from the center row's own
    median), so collect_list over the frame is the honest plan — 7-
    element arrays, not a data explosion.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    framed = daily.select(
        "event_type",
        "day",
        "n_events",
        F.collect_list("n_events").over(w).alias("win"),
    )
    stats = framed.select(
        "event_type",
        "day",
        "n_events",
        "win",
        F.expr("size(win)").alias("n"),
        F.expr("array_sort(win)").alias("s"),
    ).select(
        "event_type",
        "day",
        "n_events",
        "win",
        "n",
        F.expr(
            "element_at(s, CAST((n + 1) DIV 2 AS INT)) + element_at(s, CAST(n DIV 2 + 1 AS INT))"
        ).alias("med2"),
    )
    mad = stats.select(
        "event_type",
        "day",
        "n_events",
        "n",
        "med2",
        F.expr("array_sort(transform(win, v -> abs(2 * v - med2)))").alias("sd"),
    )
    return mad.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.col("med2").cast("long").alias("med2_7d"),
        F.expr(
            "CAST(element_at(sd, CAST((n + 1) DIV 2 AS INT)) + element_at(sd, CAST(n DIV 2 + 1 AS INT))"
            " AS BIGINT)"
        ).alias("mad4_7d"),
        F.expr(
            "2 * abs(2 * n_events - med2)"
            " > 3 * (element_at(sd, CAST((n + 1) DIV 2 AS INT)) + element_at(sd, CAST(n DIV 2 + 1 AS INT)))"
        ).alias("is_outlier"),
    ).orderBy("event_type", "day")
