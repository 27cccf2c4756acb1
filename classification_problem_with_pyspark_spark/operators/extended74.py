"""Round-3 extension pack #74: inter-event burstiness and
trailer-record file validation.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — the Goh–Barabási burstiness parameter (B = (σ−μ)/(σ+μ)
over inter-event times, EPL 2008: −1 = metronome, 0 = Poisson, →1 =
extreme bursts; the single number that separates human activity from
machine heartbeats) and header/trailer record validation (the
bank-file / EDI integrity convention: the trailer states the record
count and control total the body must reproduce — corruption is
detected by the FILE ITSELF) — re-expressed on the public PySpark
DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): inter-event gaps are exact
floored epoch-second differences under the (ts, event_id) total order;
B folds the t-test discipline (exact integer moments, one ROUND-6
double close). The staged trailer file carries integer cents and a
deterministically injected corruption in one shard (a dropped body
record), so the validation verdicts are pure integer comparisons the
oracle restates.

Scale posture (SURVEY.md §7.6): burstiness is one LEAD window + a
moment pass; trailer validation reads each file's body and trailer in
one pass and compares per-file aggregates — the control scales
per-shard, embarrassingly parallel.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import bounded_collect, load, stage_dir

TRAILER_SHARDS = 3  # nation split into 3 bank-file shards
CORRUPT_SHARD = 1  # this shard loses its last body record (injected)


@register(
    "events_burstiness_goh_barabasi",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS t,
               LEAD(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS t_next
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    gaps AS (
        SELECT t_next - t AS g FROM seq WHERE t_next IS NOT NULL
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(g) AS BIGINT) AS s,
               CAST(SUM(g * g) AS BIGINT) AS q
        FROM gaps
    )
    SELECT n, s AS total_gap_s,
           ROUND(CAST(s AS DOUBLE) / n, 6) AS mean_gap_s,
           ROUND(sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n), 6)
               AS sd_gap_s,
           ROUND((sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
                  - CAST(s AS DOUBLE) / n)
                 / (sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
                    + CAST(s AS DOUBLE) / n), 6) AS burstiness
    FROM mom
    """,
)
def events_burstiness_goh_barabasi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness (SURVEY.md §2.4): B = (σ−μ)/(σ+μ) over
    the per-user inter-event gaps — the bounded single number that
    places a point process on the metronome(−1) / Poisson(0) /
    bursty(→1) axis (Goh & Barabási 2008). Complements
    `events_dispersion_index` (Fano, count-based) with the
    interval-based view, and `events_inter_arrival` (the raw
    distribution) with its headline summary; human-driven streams sit
    visibly above 0 and heartbeat streams below — the one-glance
    bot/human feature.

    Gaps are exact integer seconds under the (ts, event_id) total
    order (final open intervals excluded, as in `events_time_in_state`);
    B folds the t-test discipline — exact integer (n, Σg, Σg²), one
    identical ROUND-6 double close (population σ, stated).

    Scale: one LEAD window inside the per-user shuffle + one
    map-side-combinable moment pass.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_timestamp("ts").cast("long")
    gaps = (
        e.select(t.alias("t"), F.lead(t).over(w).alias("t_next"))
        .where(F.col("t_next").isNotNull())
        .select((F.col("t_next") - F.col("t")).alias("g"))
    )
    mom = gaps.agg(
        F.count("*").alias("n"),
        F.sum("g").cast("long").alias("s"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (F.col("q").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / F.col("n")
    )
    return mom.select(
        "n",
        F.col("s").alias("total_gap_s"),
        F.round(mean, 6).alias("mean_gap_s"),
        F.round(sd, 6).alias("sd_gap_s"),
        F.round((sd - mean) / (sd + mean), 6).alias("burstiness"),
    )


@register(
    "source_trailer_record_validation",
    oracle=f"""
    WITH shards AS (
        SELECT n_nationkey % {TRAILER_SHARDS} AS shard,
               COUNT(*) AS n_body,
               CAST(SUM(n_nationkey * 100 + n_regionkey) AS BIGINT) AS cents
        FROM nation GROUP BY n_nationkey % {TRAILER_SHARDS}
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(CASE WHEN shard = {CORRUPT_SHARD}
                     THEN n_body - 1 ELSE n_body END AS BIGINT)
               AS n_records_read,
           CAST(n_body AS BIGINT) AS n_records_declared,
           CAST(CASE WHEN shard = {CORRUPT_SHARD}
                     THEN cents - (SELECT MAX(n_nationkey * 100 + n_regionkey)
                                   FROM nation
                                   WHERE n_nationkey % {TRAILER_SHARDS}
                                         = {CORRUPT_SHARD})
                     ELSE cents END AS BIGINT) AS cents_read,
           CAST(cents AS BIGINT) AS cents_declared,
           shard <> {CORRUPT_SHARD} AS count_ok,
           shard <> {CORRUPT_SHARD} AS total_ok
    FROM shards
    ORDER BY shard
    """,
)
def source_trailer_record_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailer-record validation (SURVEY.md §2.1): each staged shard is
    a bank-file-style text file — H header, D body records, and a T
    trailer declaring the body count and control total. The reader
    validates every shard against ITS OWN trailer; one shard has a
    deterministically dropped body record (the corruption this
    control exists to catch), so its count and total both fail while
    the declared values — read from the trailer, not recomputed —
    still state what SHOULD have been there. That asymmetry (read vs
    declared) is the whole design: the file carries its own
    expectation, so corruption is detectable without any second
    source.

    Exactness: integer record counts and control cents.

    Scale: one pass per shard (filter by record type, aggregate,
    compare to the trailer row) — embarrassingly parallel across
    files, which is why the convention survives from mainframe EDI
    to modern settlement drops.
    """
    stage = stage_dir("trailer_files")
    rows = sorted(
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in bounded_collect(
            load(spark, sf_dir, "nation"), max_rows=25, what="nation dim"
        )
    )
    for shard in range(TRAILER_SHARDS):
        body = [(k, n, rg) for k, n, rg in rows if k % TRAILER_SHARDS == shard]
        declared_n = len(body)
        declared_cents = sum(k * 100 + rg for k, n, rg in body)
        if shard == CORRUPT_SHARD:  # drop the record with the max control
            drop = max(body, key=lambda t: t[0] * 100 + t[2])
            body = [b for b in body if b != drop]
        with open(os.path.join(stage, f"shard-{shard}.txt"), "w") as f:
            f.write(f"H,{shard}\n")
            for k, n, rg in body:
                f.write(f"D,{shard},{k},{n},{k * 100 + rg}\n")
            f.write(f"T,{shard},{declared_n},{declared_cents}\n")
    txt = spark.read.text(stage)
    parts = F.split("value", ",")
    parsed = txt.select(
        parts.getItem(0).alias("rec"),
        parts.getItem(1).cast("long").alias("shard"),
        parts.getItem(2).alias("f2"),
        parts.getItem(3).alias("f3"),
        parts.getItem(4).alias("f4"),
    )
    body = parsed.where(F.col("rec") == "D").groupBy("shard").agg(
        F.count("*").alias("n_records_read"),
        F.sum(F.col("f4").cast("long")).cast("long").alias("cents_read"),
    )
    trailer = parsed.where(F.col("rec") == "T").select(
        "shard",
        F.col("f2").cast("long").alias("n_records_declared"),
        F.col("f3").cast("long").alias("cents_declared"),
    )
    return (
        body.join(trailer, "shard")
        .select(
            "shard",
            "n_records_read",
            "n_records_declared",
            "cents_read",
            "cents_declared",
            (F.col("n_records_read") == F.col("n_records_declared")).alias(
                "count_ok"
            ),
            (F.col("cents_read") == F.col("cents_declared")).alias("total_ok"),
        )
        .orderBy("shard")
    )
