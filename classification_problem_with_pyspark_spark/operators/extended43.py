"""Round-3 extension pack #43: tail attribution and malformed-JSONL
recovery.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — tail-latency attribution (which dimension owns the global
p99 mass; the SRE triage query) and permissive JSON ingestion with
corrupt-record capture (Spark's PERMISSIVE/_corrupt_record contract) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): the tail is defined as the
EXACT top-k rows under the (value-cents DESC, event_id) total order
(k = n DIV 100) — rank-based, so value ties at the cutoff can never
make the two engines disagree about membership; the JSONL fixture
injects corrupt lines DETERMINISTICALLY and the oracle restates the
recoverable rows from the base table.

Scale posture (SURVEY.md §7.6): the tail membership is histogram-based
(no global row sort; the cutoff cumsum is the bucket-stitch form since
r10, so the only single-task window is the value-range bucket grid);
the JSONL read is the one-pass PERMISSIVE scan every ingestion edge
runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import bounded_collect, load, stage_dir

TAIL_PCT_DIV = 100  # top n DIV 100 rows = the "p99 tail"


@register(
    "agg_tail_attribution_topk",
    oracle=f"""
    WITH v AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    sized AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    tail AS (
        SELECT event_type, cents FROM (
            SELECT event_type, cents,
                   row_number() OVER (ORDER BY cents DESC, event_id) AS rn,
                   (SELECT n FROM sized) AS n
            FROM v
        ) r WHERE rn <= n // {TAIL_PCT_DIV}
    ),
    per AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_tail_events,
               CAST(SUM(cents) AS BIGINT) AS tail_cents
        FROM tail GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(n_tail_events) AS BIGINT) AS k,
               CAST(SUM(tail_cents) AS BIGINT) AS all_tail_cents
        FROM per
    )
    SELECT event_type, n_tail_events, tail_cents,
           CAST((1000000 * n_tail_events) // k AS BIGINT)
               AS tail_share_micro,
           CAST((1000000 * tail_cents) // all_tail_cents AS BIGINT)
               AS tail_mass_share_micro
    FROM per, tot ORDER BY event_type
    """,
)
def agg_tail_attribution_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail attribution (SURVEY.md §2.4): which event type owns the
    global top-1% of values — the SRE triage query ("who is in my
    p99?") that a per-group percentile report cannot answer, because
    the tail is defined GLOBALLY and groups compete for membership.
    The tail is the exact top n/100 rows under the (cents DESC,
    event_id) total order, so cutoff ties are resolved identically on
    both engines by construction — rank-based tails are the only
    hash-stable way to define "top 1%".

    Exactness: cents are exact; membership is a total-order rank; the
    shares fold floor-micro. The plan stays fully lazy (the row count
    enters through a window, not a driver-side action).

    Scale: the exact top-k membership is computed WITHOUT a global
    row sort — the cents-value HISTOGRAM (groupBy cents, a shuffle
    agg with map-side combine) yields the exact cutoff value via a
    cumsum over the value grid; rows strictly above the cutoff are
    all members, and only the BOUNDARY-VALUE tie band (rows at
    exactly the cutoff cents) is ranked by event_id to take the
    remaining m slots. The cutoff cumsum is the bucket-stitch form
    (r10: distinct cents track the event count, so the only
    single-task window is the 64-cent bucket grid, bounded by the
    value RANGE) and the tie band is a single value's rows — at
    100 TB the fact table itself is never sorted.
    """
    e = load(spark, sf_dir, "events")
    v = e.select(
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    from pyspark.sql.window import Window

    # r12 optimization (guide §5): the cents histogram feeds the total,
    # the cutoff cumsum and the tie-band bound — each branch re-derived
    # the fact groupBy (22 events scans, 299 plan nodes). The histogram
    # is value-RANGE bounded, so one checkpoint makes the decision phase
    # one fact pass; only the strict/boundary membership filters re-scan
    # the facts (2.2 s -> ~1.3 s at sf0.1).
    hist = v.groupBy("cents").agg(F.count("*").alias("c")).localCheckpoint(eager=True)
    tot_n = hist.agg(F.sum("c").cast("long").alias("n"))
    # r10 (proactive, found by the near-threshold grid audit): distinct
    # value cents are near-unique — 17.8k rows at sf0.1 growing
    # 2.7×/decade through one WindowExec task. Bucket-stitch cumsum:
    # 64-cent buckets bound the only single-task window by the VALUE
    # RANGE (0–56k cents → ≤876 buckets at any SF).
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_cumsum,
    )

    cum = bucketed_global_cumsum(
        hist, "cents", [], [("cum", "c")], descending=True, bucket_bits=6
    ).crossJoin(F.broadcast(tot_n))
    # Cutoff = largest cents value whose cumulative (desc) count reaches
    # k = n DIV 100; m = how many of the cutoff-value ties are inside
    # the top-k under the (cents DESC, event_id) total order.
    cut = (
        cum.where(F.col("cum") >= F.expr(f"n DIV {TAIL_PCT_DIV}"))
        .agg(F.max("cents").alias("cut_cents"))
    )
    bound = (
        cum.crossJoin(F.broadcast(cut))
        .where(F.col("cents") == F.col("cut_cents"))
        .select(
            "cut_cents",
            F.expr(f"n DIV {TAIL_PCT_DIV} - (cum - c)").alias("m"),
        )
    )
    strict = (
        v.crossJoin(F.broadcast(cut))
        .where(F.col("cents") > F.col("cut_cents"))
        .select("event_type", "cents")
    )
    w_band = Window.partitionBy("cents").orderBy("event_id")
    boundary = (
        v.crossJoin(F.broadcast(bound))
        .where(F.col("cents") == F.col("cut_cents"))
        .withColumn("rn", F.row_number().over(w_band))
        .where(F.col("rn") <= F.col("m"))
        .select("event_type", "cents")
    )
    tail = strict.unionByName(boundary)
    per = tail.groupBy("event_type").agg(
        F.count("*").alias("n_tail_events"),
        F.sum("cents").alias("tail_cents"),
    )
    tot = per.agg(
        F.sum("n_tail_events").alias("k"),
        F.sum("tail_cents").alias("all_tail_cents"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_tail_events",
            "tail_cents",
            F.expr(
                "CAST((1000000 * n_tail_events) DIV k AS BIGINT)"
            ).alias("tail_share_micro"),
            F.expr(
                "CAST((1000000 * tail_cents) DIV all_tail_cents AS BIGINT)"
            ).alias("tail_mass_share_micro"),
        )
        .orderBy("event_type")
    )


@register(
    "source_jsonl_malformed",
    oracle="""
    SELECT n_name AS name,
           CAST(n_regionkey AS BIGINT) AS region,
           'valid' AS status
    FROM nation WHERE n_nationkey % 5 != 2
    ORDER BY name
    """,
)
def source_jsonl_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-JSONL recovery (SURVEY.md §2.1): a staged JSONL file
    carries one DELIBERATELY truncated line for every nation whose key
    ≡ 2 (mod 5); the PERMISSIVE reader with a _corrupt_record column
    must recover every valid line and quarantine exactly the corrupt
    ones — the ingestion-edge contract `source_csv_malformed` pins for
    CSV, completed here for JSON lines. The returned relation is the
    VALID rows (the oracle restates them from the base table); the
    corrupt-row count is asserted in tests.

    Exactness: corruption is a deterministic key rule; the valid set
    is a pure filter of the dim.

    Scale: PERMISSIVE is a one-pass scan with per-row fallback — the
    only mode that neither aborts the job (FAILFAST) nor silently
    drops data (DROPMALFORMED loses the quarantine evidence).
    """
    stage = stage_dir("jsonl_malformed")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    rows = sorted(
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in bounded_collect(n, max_rows=25, what="nation dim")
    )
    path = os.path.join(stage, "part-0.jsonl")
    with open(path, "w") as f:
        for key, name, region in rows:
            if key % 5 == 2:
                f.write(f'{{"name": "{name}", "region": ')  # truncated
                f.write("\n")
            else:
                f.write(f'{{"name": "{name}", "region": {region}}}\n')
    back = spark.read.schema(
        "name string, region bigint, _corrupt_record string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(
        path
    )
    # A valid line names its nation. The name test also keeps a column
    # beside _corrupt_record in the scan: `.count()` prunes the select, and
    # Spark refuses a JSON scan that reads only the corrupt-record column.
    return (
        back.where(F.col("_corrupt_record").isNull() & F.col("name").isNotNull())
        .select("name", "region", F.lit("valid").alias("status"))
        .orderBy("name")
    )
