"""Round-3 extension pack #107: circular hour-of-day statistics and
degenerate-file handling.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — circular statistics for time-of-day data (the mean of 23:00
and 01:00 is midnight, not noon: directional statistics' vector-sum
mean and resultant length R; Mardia's classic treatment) and degenerate
input files (zero-byte files and header-only files appear in every
real landing zone — retries, empty partitions, touch-markers — and a
directory read must absorb them without error or phantom rows) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): the 24 hour-angles' sines
and cosines enter as a LITERAL micro-integer table (precomputed in
Python — no engine trig on data-derived arguments), so the vector sums
are exact integers; only the closing atan2/magnitude is double,
ROUND-6. The degenerate fixture stages normal + header-only +
zero-byte files and the oracle restates only the real rows.

Scale posture (SURVEY.md §7.6): circular stats are a 24-row broadcast
join + integer sums; degenerate handling is a reader contract.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import (
    bounded_collect,
    load,
    local_rows,
    stage_dir,
)

# literal trig table: hour -> (sin, cos) in micro units, Python-computed
HOUR_TRIG = tuple(
    (
        h,
        round(math.sin(2 * math.pi * h / 24) * 1_000_000),
        round(math.cos(2 * math.pi * h / 24) * 1_000_000),
    )
    for h in range(24)
)


@register(
    "events_circular_hour_stats",
    oracle=f"""
    WITH trig(h, s_micro, c_micro) AS (VALUES
        {", ".join(f"({h}, {s}, {c})" for h, s, c in HOUR_TRIG)}
    ),
    hours AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS h
        FROM events
    ),
    sums AS (
        SELECT hours.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t.s_micro) AS BIGINT) AS ss,
               CAST(SUM(t.c_micro) AS BIGINT) AS cs
        FROM hours JOIN trig t ON t.h = hours.h
        GROUP BY hours.event_type
    )
    SELECT event_type, n, ss AS sin_sum_micro, cs AS cos_sum_micro,
           ROUND(degrees(atan2(CAST(ss AS DOUBLE), CAST(cs AS DOUBLE)))
                 / 15.0, 6) AS mean_hour,
           ROUND(sqrt(CAST(ss AS DOUBLE) * ss + CAST(cs AS DOUBLE) * cs)
                 / (1000000.0 * n), 6) AS resultant_r
    FROM sums
    ORDER BY event_type
    """,
)
def events_circular_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular hour-of-day statistics (SURVEY.md §2.4): the mean
    DIRECTION of each type's activity clock and the resultant length
    R — directional statistics' answer to "what time of day does this
    happen", where the arithmetic mean of 23:00 and 01:00 is
    nonsensically noon and the vector-sum mean is correctly midnight
    (Mardia). R ∈ [0,1] is the concentration: 1 = all events at one
    hour, 0 = uniform around the clock (this near-uniform fixture
    sits near 0 — hash-pinned, like every distribution fact here).

    The 24 hour-angles' sin/cos enter as a LITERAL micro-integer
    table computed in Python — the engines never evaluate trig on
    data-derived arguments, so the vector sums are EXACT integers
    (the Hellinger lesson, solved by tabulation instead of
    order-pinning); only the closing atan2 and magnitude are double,
    ROUND-6 on identical integer inputs. mean_hour is in hours
    (degrees/15), negative for the pre-midnight side — stated.

    Scale: one broadcast 24-row join + integer sums per type.
    """
    spark_trig = local_rows(spark, HOUR_TRIG, "h int, s_micro long, c_micro long")
    hours = load(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("h")
    )
    sums = (
        hours.join(F.broadcast(spark_trig), "h")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("s_micro").cast("long").alias("ss"),
            F.sum("c_micro").cast("long").alias("cs"),
        )
    )
    return sums.select(
        "event_type",
        "n",
        F.col("ss").alias("sin_sum_micro"),
        F.col("cs").alias("cos_sum_micro"),
        F.round(
            F.degrees(F.atan2(F.col("ss").cast("double"), F.col("cs").cast("double")))
            / 15.0,
            6,
        ).alias("mean_hour"),
        F.round(
            F.sqrt(
                F.col("ss").cast("double") * F.col("ss")
                + F.col("cs").cast("double") * F.col("cs")
            )
            / (1_000_000.0 * F.col("n")),
            6,
        ).alias("resultant_r"),
    ).orderBy("event_type")


@register(
    "source_degenerate_files_handling",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS nation_key,
           n_name AS name
    FROM nation
    ORDER BY nation_key
    """,
)
def source_degenerate_files_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate files (SURVEY.md §2.1): the landing directory holds a
    normal CSV shard, a HEADER-ONLY shard (an upstream that found no
    rows), and a ZERO-BYTE file (a touch-marker or failed write) —
    the three degenerate shapes every real landing zone accumulates.
    The directory read must yield exactly the real rows: no error on
    the empty file, no phantom row from the header-only one (its
    header must be recognized as a header, not data). The oracle
    restates the dim, so either failure mode breaks the hash.

    Exactness: a pure reader contract.

    Scale: zero marginal cost; pipelines that crash on empty shards
    page someone at 3am for a file with nothing in it.
    """
    stage = stage_dir("degenerate_files")
    rows = sorted(
        (r.n_nationkey, r.n_name)
        for r in bounded_collect(
            load(spark, sf_dir, "nation"), max_rows=25, what="nation dim"
        )
    )
    with open(os.path.join(stage, "part-0.csv"), "w") as f:
        f.write("nation_key,name\n")
        for k, nm in rows:
            f.write(f"{k},{nm}\n")
    with open(os.path.join(stage, "part-1.csv"), "w") as f:
        f.write("nation_key,name\n")  # header only — zero data rows
    open(os.path.join(stage, "part-2.csv"), "w").close()  # zero bytes
    back = (
        spark.read.option("header", "true")
        .schema("nation_key bigint, name string")
        .csv(stage)
    )
    return back.select("nation_key", "name").orderBy("nation_key")
