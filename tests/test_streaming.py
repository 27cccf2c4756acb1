"""Structured Streaming wrapper tests (SURVEY.md §2.9): each streaming op
runs end-to-end (readStream → watermark → agg → memory sink, availableNow)
and its result is cross-checked against the batch twin where the twin is
exact (tumbling); stateful ops get shape/consistency checks.

Uses sf0.001 (1,000 events) — streaming startup dominates runtime.
"""

from __future__ import annotations

import pytest

from classification_problem_with_pyspark_spark.operators.events import stream_tumbling_hourly
from classification_problem_with_pyspark_spark.streaming.wrappers import (
    dedup_within_watermark_stream,
    run_available_now,
    session_window_stream,
    tumbling_hourly_stream,
)
from tests.conftest import SF_DIR_SMOKE


@pytest.mark.streaming
def test_tumbling_stream_matches_batch_twin(spark):
    rows = run_available_now(spark, SF_DIR_SMOKE, tumbling_hourly_stream, "tumble")
    stream_res = {(r.hour_start, r.event_type): (r.event_cnt, r.value_sum) for r in rows}
    batch = stream_tumbling_hourly(spark, SF_DIR_SMOKE).collect()
    batch_res = {(r.hour_start, r.event_type): (r.event_cnt, r.value_sum) for r in batch}
    # availableNow + complete mode processes the full backlog → the
    # streaming result must equal the batch twin exactly.
    assert stream_res == batch_res


@pytest.mark.streaming
def test_session_window_stream_runs(spark):
    rows = run_available_now(spark, SF_DIR_SMOKE, session_window_stream, "session")
    assert len(rows) > 0
    by_user_events = sum(r.event_cnt for r in rows)
    assert by_user_events <= 1000  # closed sessions only (watermark may hold back the tail)
    for r in rows:
        assert r.session_start <= r.session_end


@pytest.mark.streaming
def test_stateful_user_totals_stream_matches_batch(spark):
    from pyspark.sql import functions as F

    from classification_problem_with_pyspark_spark.sources.catalog import load
    from classification_problem_with_pyspark_spark.streaming.wrappers import (
        run_available_now,
        stateful_user_totals_stream,
    )

    rows = run_available_now(
        spark, SF_DIR_SMOKE, stateful_user_totals_stream, "stateful", output_mode="update"
    )
    # update mode emits one row per (user, micro-batch); the LAST update per
    # user (max event_cnt — the counter is monotone) must equal batch totals.
    last = {}
    for r in rows:
        if r.user_id not in last or r.event_cnt > last[r.user_id][0]:
            last[r.user_id] = (r.event_cnt, r.value_sum)
    batch = (
        load(spark, SF_DIR_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("vs"))
        .collect()
    )
    batch_res = {r.user_id: (r.cnt, r.vs) for r in batch}
    assert {u: c for u, (c, _) in last.items()} == {u: c for u, (c, _) in batch_res.items()}
    for u, (_, vs) in last.items():
        assert abs(vs - batch_res[u][1]) < 0.05  # per-batch rounding drift only


@pytest.mark.streaming
def test_dedup_within_watermark_stream(spark):
    rows = run_available_now(spark, SF_DIR_SMOKE, dedup_within_watermark_stream, "dedup")
    seen = {(r.user_id, r.event_type) for r in rows}
    assert len(seen) == len(rows)  # no (user, type) pair emitted twice
    assert len(rows) > 0


@pytest.mark.streaming
def test_stream_stream_join_matches_batch_range_join(spark):
    from pyspark.sql import functions as F

    from classification_problem_with_pyspark_spark.sources.catalog import load
    from classification_problem_with_pyspark_spark.streaming.wrappers import (
        run_available_now,
        stream_stream_attribution_join,
    )

    rows = run_available_now(
        spark, SF_DIR_SMOKE, stream_stream_attribution_join, "ssjoin", output_mode="append"
    )
    e = load(spark, SF_DIR_SMOKE, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), "event_id", F.col("ts").alias("purchase_ts")
    )
    batch_n = (
        purchases.join(
            clicks,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        )
    ).count()
    # availableNow processes the whole backlog in-order: nothing is late,
    # so the stream-stream join must equal the batch range join exactly.
    assert len(rows) == batch_n
    assert batch_n > 0


@pytest.mark.streaming
def test_availablenow_checkpoint_processes_only_new_files(spark, tmp_path):
    """The incremental-batch contract: a second availableNow run over the
    SAME checkpoint reads ONLY files added since the first run — at 100 TB
    each scheduled run pays for the day's new data, never the lake."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from classification_problem_with_pyspark_spark.sources.catalog import load

    input_dir = str(tmp_path / "input")
    checkpoint = str(tmp_path / "ckpt")
    e = load(spark, SF_DIR_SMOKE, "events")
    first = e.where(F.col("event_id") % 2 == 0)
    second = e.where(F.col("event_id") % 2 == 1)
    first.write.parquet(input_dir)
    schema = spark.read.parquet(input_dir).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(input_dir)
        agg = stream.groupBy("event_type").agg(F.count("*").alias("cnt"))
        q = (
            agg.writeStream.format("memory")
            .queryName(f"inc_{_uuid.uuid4().hex[:6]}")
            .outputMode("complete")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sum(int(p["numInputRows"]) for p in q.recentProgress)

    assert run_once() == first.count()
    second.write.mode("append").parquet(input_dir)
    # same checkpoint → only the appended files are read
    assert run_once() == second.count()


def test_stream_static_join_equals_batch(spark):
    """The stream-static enrichment aggregate must exactly equal the same
    plan run fully in batch."""
    from pyspark.sql import functions as F

    from classification_problem_with_pyspark_spark.registry import QUERIES
    from classification_problem_with_pyspark_spark.sources.catalog import load
    from tests.conftest import SF_DIR

    streamed = {
        (r.segment, r.event_type): (r.n_events, r.value_cents)
        for r in QUERIES["stream_static_join"].fn(spark, SF_DIR).collect()
    }
    e = load(spark, SF_DIR, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("n_total"))
    cut = per_user.agg((F.sum("n_total") / F.count("*")).alias("cut"))
    profile = per_user.crossJoin(F.broadcast(cut)).select(
        "user_id",
        F.when(F.col("n_total") >= F.col("cut"), "heavy").otherwise("light").alias("segment"),
    )
    batch = {
        (r.segment, r.event_type): (r.n_events, r.value_cents)
        for r in e.join(F.broadcast(profile), "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .collect()
    }
    assert streamed == batch and len(batch) == 10


def test_foreach_batch_sink_equals_batch(spark):
    """The foreachBatch-sink aggregation's final batch must equal the
    plain batch aggregation."""
    from pyspark.sql import functions as F

    from classification_problem_with_pyspark_spark.registry import QUERIES
    from classification_problem_with_pyspark_spark.sources.catalog import load
    from tests.conftest import SF_DIR

    got = {
        (r.event_type): (r.n_events, r.value_cents)
        for r in QUERIES["stream_foreach_batch_sink"].fn(spark, SF_DIR).collect()
    }
    want = {
        (r.event_type): (r.n_events, r.value_cents)
        for r in load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .collect()
    }
    assert got == want and len(got) == 5


@pytest.mark.streaming
def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Fault-tolerance contract: a streaming dedup stopped after batch 1
    and RESTARTED from its checkpoint must (a) restore dedup state — keys
    emitted before the restart are never re-emitted — and (b) pick up only
    new input files. This is the exactly-once recovery the checkpoint dir
    exists for; at 100 TB it is what makes an event-lake incremental job
    safe to kill at any point.
    """
    from pyspark.sql import functions as F

    from classification_problem_with_pyspark_spark.sources.catalog import load

    input_dir = str(tmp_path / "input")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    events = load(spark, SF_DIR_SMOKE, "events")

    def dedup_forever(stream):
        # no watermark: state never expires, so every (user, type) key is
        # emitted exactly once EVER — the property the restart must keep
        return stream.dropDuplicates(["user_id", "event_type"]).select(
            "event_id", "user_id", "event_type"
        )

    def run_once(phase_df):
        phase_df.write.mode("append").parquet(input_dir)
        schema = spark.read.parquet(input_dir).schema
        stream = spark.readStream.schema(schema).parquet(input_dir)
        q = (
            dedup_forever(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once(events.where(F.col("user_id") < 10))
    phase1 = spark.read.parquet(out_dir).count()
    run_once(events.where(F.col("user_id") >= 10))  # restart from ckpt
    out = spark.read.parquet(out_dir)

    total = out.count()
    assert phase1 > 0 and total > phase1, (phase1, total)  # both phases emitted
    # exactly-once across the restart: no key ever emitted twice
    assert total == out.select("user_id", "event_type").distinct().count()
    # and the union of both phases covers every key in the source exactly
    assert total == events.select("user_id", "event_type").distinct().count()


def test_transform_with_state_peak_tracker(spark):
    """Spark 4 transformWithStateInPandas wrapper: plan must BUILD in any
    environment; the end-to-end drive needs google.protobuf (the runner's
    JVM channel), absent in this container — auto-skip there, run on a
    real cluster."""
    from classification_problem_with_pyspark_spark.streaming.wrappers import (
        run_available_now,
        user_peak_tracker_tws,
    )

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        # Plan construction still must work (catches API drift).
        from classification_problem_with_pyspark_spark.streaming.wrappers import (
            _stage_stream_input,
        )

        input_dir, _ = _stage_stream_input(spark, SF_DIR_SMOKE)
        schema = spark.read.parquet(input_dir).schema
        stream = spark.readStream.schema(schema).parquet(input_dir)
        out = user_peak_tracker_tws(stream)
        assert set(out.columns) == {"user_id", "peak_value", "event_cnt"}
        assert out.isStreaming
        pytest.skip("google.protobuf not installed: e2e transformWithState "
                    "drive unavailable in this container")

    rows = run_available_now(
        spark, SF_DIR_SMOKE, user_peak_tracker_tws, "tws_peak", output_mode="update"
    )
    assert rows
    by_user = {r.user_id: r for r in rows}
    for r in by_user.values():
        assert r.event_cnt >= 1
