"""Structured Streaming wrappers over the batch twins (SURVEY.md §2.9).

Design: each §2.9 aggregation is defined ONCE as a transformation over an
unbounded-looking DataFrame; the batch twin (operators/events.py) runs it
on a static frame with exact oracle parity, and these wrappers run the
IDENTICAL logic through readStream → withWatermark → writeStream with an
availableNow trigger (process-everything-then-stop), proving the logic is
stream-executable with bounded state.

The parquet streaming source needs a directory it can list; the testdata
is single read-only files, so ``_stage_stream_input`` copies the events
file into a fresh ``catalog.stage_dir`` (never touching the testdata) and
rewrites ts to µs (the ns schema is as illegal for readStream as for
batch — SURVEY.md §7.5).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.sources.catalog import load, stage_dir


def _stage_stream_input(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize events as a µs-timestamp parquet DIRECTORY for the file
    stream source. Returns (input_dir, checkpoint_dir)."""
    base = stage_dir("stream")
    input_dir = os.path.join(base, "input")
    checkpoint = os.path.join(base, "checkpoint")
    load(spark, sf_dir, "events").write.mode("overwrite").parquet(input_dir)
    return input_dir, checkpoint


def tumbling_hourly_stream(events: DataFrame) -> DataFrame:
    """Identical aggregation to operators/events.py::stream_tumbling_hourly,
    plus a 10-minute watermark bounding state (SURVEY.md §7.6: state via
    watermarks, never unbounded)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("event_cnt"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "event_cnt",
            "value_sum",
        )
    )


def session_window_stream(events: DataFrame) -> DataFrame:
    """Native session_window aggregation (30-minute gap) — the streaming
    counterpart of the gaps-and-islands batch twin."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("event_cnt"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "event_cnt",
            "value_sum",
        )
    )


def dedup_within_watermark_stream(events: DataFrame) -> DataFrame:
    """Stateful streaming dedup: first event per (user_id, event_type)
    with watermark-bounded state — the streaming twin of dedup_exact."""
    return (
        events.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "user_id", "event_type", "ts")
    )


def stateful_user_totals_stream(events: DataFrame) -> DataFrame:
    """Arbitrary stateful operator (SURVEY.md §2.9 last row):
    ``applyInPandasWithState`` keeps a per-user running (event_cnt,
    value_sum) across micro-batches and emits the running totals on every
    update — the custom-state escape hatch when built-in windowed aggs
    can't express the logic (e.g. online feature counters).

    State is keyed by user_id, so at scale it shards across executors with
    the shuffle; each group's state is a 16-byte tuple regardless of event
    volume — bounded state by construction.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        cnt, vs = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            vs += float(pdf["value"].sum())
        state.update((cnt, vs))
        yield pd.DataFrame(
            {"user_id": [key[0]], "event_cnt": [cnt], "value_sum": [round(vs, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, event_cnt long, value_sum double",
        stateStructType="event_cnt long, value_sum double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now_df(
    spark: SparkSession,
    sf_dir: str,
    transform,
    query_name: str,
    output_mode: str | None = None,
) -> DataFrame:
    """Drive a streaming transform end-to-end and return the sink as a
    DataFrame: stage input → readStream → transform → memory sink with
    availableNow trigger.

    availableNow processes the full backlog then stops — the pattern for
    incremental batch over a growing 100-TB event lake (each run picks up
    new files only, tracked by the checkpoint).
    """
    input_dir, checkpoint = _stage_stream_input(spark, sf_dir)
    schema = spark.read.parquet(input_dir).schema
    stream = spark.readStream.schema(schema).parquet(input_dir)
    out = transform(stream)
    sink_name = f"{query_name}_{uuid.uuid4().hex[:6]}"
    mode = output_mode or ("append" if "dedup" in query_name else "complete")
    q = (
        out.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(sink_name)


def run_available_now(
    spark: SparkSession,
    sf_dir: str,
    transform,
    query_name: str,
    output_mode: str | None = None,
) -> list:
    """``run_available_now_df`` + collect (test convenience)."""
    return run_available_now_df(spark, sf_dir, transform, query_name, output_mode).collect()


def stream_stream_attribution_join(events: DataFrame) -> DataFrame:
    """Stream-stream self-join (purchase attributed to a click by the same
    user within the preceding hour) — both sides watermarked so the join
    state is bounded: Spark evicts click state older than watermark +
    range, which is THE mechanism that keeps a 100 TB/day stream join
    from accumulating unbounded state.
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), "event_id", F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "30 minutes")
    )
    return purchases.join(
        clicks,
        F.expr(
            """
            p_user = user_id AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL 1 HOUR
            """
        ),
    ).select("event_id", "p_user", "purchase_ts", "click_ts")


def stream_static_enrichment(events_stream: DataFrame, profile: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a BATCH dimension
    (per-user segment profile) and aggregate per (segment, type).

    The static side is planned once and broadcast into every micro-batch —
    no state, no watermark needed for an inner stream-static join; this is
    the canonical pattern for enriching a 100-TB/day stream with dimension
    tables (the dim re-reads per batch, picking up dim updates for free).
    """
    enriched = events_stream.join(F.broadcast(profile), "user_id")
    # countDistinct is unsupported in streaming aggregation; the exact
    # integer cents sum keeps the batch twin hash-comparable instead.
    return enriched.groupBy("segment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def run_foreach_batch_parquet(
    spark: SparkSession,
    sf_dir: str,
    transform,
    out_dir: str,
    query_name: str,
) -> DataFrame:
    """Drive a streaming transform through a foreachBatch parquet sink:
    each micro-batch is written to a batch-id-keyed subdirectory
    (overwrite mode ⇒ idempotent on replay — the exactly-once recipe for
    sinks without transactional append), then the union of batch outputs
    is read back.

    foreachBatch is THE escape hatch for sinks Structured Streaming
    doesn't speak natively (JDBC upserts, MERGE into lakehouse tables):
    the batch DataFrame inside the callback supports every batch API.
    """
    input_dir, checkpoint = _stage_stream_input(spark, sf_dir)
    schema = spark.read.parquet(input_dir).schema
    stream = spark.readStream.schema(schema).parquet(input_dir)
    out = transform(stream)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    q = (
        out.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.read.parquet(out_dir)


def user_peak_tracker_tws(events: DataFrame) -> DataFrame:
    """Spark 4 ``transformWithStateInPandas`` (the successor API to
    ``applyInPandasWithState``, SPARK-49564 family): per-user running
    (peak value, event count) kept in a typed ValueState. Exercises the
    NEW arbitrary-state surface — StatefulProcessor lifecycle
    (init/handleInputRows/close) + handle-managed state — which is where
    Structured Streaming's custom operators are headed; the old-API twin
    is ``stateful_user_totals_stream``.

    State is one (double, long) tuple per user — bounded regardless of
    stream volume, sharded with the user_id shuffle at scale.

    ENVIRONMENT NOTE (same class as sources/kafka.py's no-broker stub):
    the transformWithState runner talks to the JVM over a protobuf
    channel, and ``google.protobuf`` is NOT installed in this container —
    driving this wrapper end-to-end here fails with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE. The code is the real
    production shape (verified to build its streaming plan; the e2e test
    in tests/test_streaming.py auto-skips without protobuf); the
    old-API twin ``stateful_user_totals_stream`` IS driven end-to-end.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class PeakProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "peak", "peak_value double, event_cnt long"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                mx, cnt = self._state.get()
            else:
                mx, cnt = float("-inf"), 0
            for pdf in rows:
                if len(pdf):
                    mx = max(mx, float(pdf["value"].max()))
                    cnt += len(pdf)
            self._state.update((mx, cnt))
            yield pd.DataFrame(
                {"user_id": [key[0]], "peak_value": [mx], "event_cnt": [cnt]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        PeakProcessor(),
        outputStructType="user_id long, peak_value double, event_cnt long",
        outputMode="Update",
        timeMode="None",
    )
