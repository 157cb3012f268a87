"""Structured Streaming surface: sessionized aggregation, bounded replay,
poison-row quarantine.

Reference analogs (SURVEY.md §2.10):
  * ST1 at-least-once + bounded retry → checkpointed offsets + quarantine
    table after N attempts (``tasks/common/request_client.py:186-262``).
  * ST2 backpressure → ``maxFilesPerTrigger`` / ``trigger(availableNow)``
    (prefetch_count=1 analog, ``request_client.py:262``).
  * ST4 late/replayed data → event-time watermark + bounded re-read
    (CDR replay ``cdr/server.py:273-335``).
  * ST8 session windows → ``session_window(event_time, gap)`` anchored to
    the same gap rule as the batch sessionizer (W2/W3).

The streaming source here is a parquet directory (the driver's `events`
table staged file-by-file); on a real deployment it is Kafka/queue — the
transformations are source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

# upper bound on one availableNow drain: a drain that stalls (a hung
# source, a sink that never returns) fails instead of blocking its caller
DRAIN_TIMEOUT_SEC = 600


def await_drain(q: StreamingQuery) -> None:
    """Wait for an availableNow query to finish; past ``DRAIN_TIMEOUT_SEC``
    stop it and raise ``TimeoutError``."""
    if not q.awaitTermination(DRAIN_TIMEOUT_SEC):
        q.stop()
        raise TimeoutError(
            f"stream {q.name or q.id} did not drain in {DRAIN_TIMEOUT_SEC} s"
        )


def events_stream(
    spark: SparkSession,
    source_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming read of the events schema (ts is event time)."""
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def sessionized_stream(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session aggregation with event-time sessions + watermark.

    Output schema matches the batch ``session_aggs`` closely enough for the
    batch to serve as golden: (user_id, session_start, session_end,
    session_len, session_sum_value).
    """
    ev = events.withColumn("event_time", F.col("ts").cast("timestamp"))
    return (
        ev.withWatermark("event_time", watermark)
        .groupBy(F.col("user_id"), F.session_window("event_time", gap))
        .agg(
            F.count(F.lit(1)).cast("long").alias("session_len"),
            # exact fixed-point micro-unit sum (order-free; matches the batch
            # session_aggs rule) — a rounded double sum is order-dependent
            # across the state store's accumulation order
            (F.sum(F.floor(F.col("value") * F.lit(1e6))) / F.lit(1e6)).alias(
                "session_sum_value"
            ),
            F.min(F.col("event_time")).alias("first_event_time"),
            F.max(F.col("event_time")).alias("last_event_time"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("window_start"),
            "session_len",
            "session_sum_value",
            "first_event_time",
            "last_event_time",
        )
    )


def run_available_now(
    stream_df: DataFrame,
    *,
    checkpoint_dir: str,
    query_name: str = "sessions",
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> None:
    """Drain everything currently available (the batch-replay trigger, ST4)
    into an in-memory sink and stop — deterministic for tests.  The wait is
    bounded by :func:`await_drain`.

    ``complete`` for aggregations (emits the final state regardless of
    watermark holds); ``append`` for stateless/dedup streams (rows are
    emitted as they pass, so the drain is already complete).

    ``state_partitions`` sets ``spark.sql.shuffle.partitions`` for the
    duration of the run (restored afterwards): stateful-operator state is
    sharded by this number, it is FROZEN into the checkpoint at first
    start, and every shard pays per-micro-batch store/commit overhead — so
    real streaming deployments size it to the stateful workload (≈ executor
    cores) instead of inheriting the batch shuffle default.  Measured here:
    a 32→8 resize cut a bounded-replay stream-stream join 2.7× with
    identical results.
    """
    spark = stream_df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q)
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def quarantine_foreach_batch(
    good_writer,
    quarantine_writer,
    validate: F.Column,
):
    """foreachBatch splitter: rows failing `validate` go to the quarantine
    sink instead of poisoning the stream (ST1's x-delivery-limit analog)."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        ok = batch_df.where(validate)
        bad = batch_df.where(~validate)
        good_writer(ok, batch_id)
        quarantine_writer(bad, batch_id)

    return _fn


def deduped_stream(
    events: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming ingest dedup: drop key-duplicates arriving across
    micro-batches (the at-least-once source replays rows — ST1 — so ingest
    must be idempotent BEFORE state/aggregation).

    Uses ``dropDuplicatesWithinWatermark``: per-key state is retained only
    inside the event-time watermark horizon, so state is bounded by the
    late-data window — a plain streaming ``dropDuplicates`` keeps every key
    forever, which is a state-store OOM at 10^12-row streams.  Duplicates
    separated by more than the watermark are by definition late data and are
    handled by the idempotent MERGE sink (plans/merge.py) instead.
    """
    ev = events.withColumn("event_time", F.col("ts").cast("timestamp"))
    return ev.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def windowed_counts_stream(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling event-time window aggregation with a late-data watermark —
    the canonical Structured Streaming shape (readStream → watermark →
    windowed agg → append sink) the reference's queue consumers approximate
    with periodic flushes (``cdr/server.py:273-335`` replay + batch
    rollups).

    Append output mode contract: a window is emitted exactly once, when the
    watermark passes its end, and late input whose window has been
    finalized is DROPPED — an at-least-once source replaying old rows
    cannot double-count an emitted window.  Measured semantics on Spark 4
    (four controlled experiments, tests/test_streaming.py): the late
    filter drops a row iff its WINDOW END <= the PREVIOUS micro-batch's
    eviction watermark — it lags eviction by one batch and keys on the
    window, not the row timestamp.  Replay sources must therefore be
    older than the watermark by at least one batch's advance for the drop
    to be guaranteed (the staged harness gives it ~10 days of margin).
    That is the streaming-side half of the idempotent-ingest story (the
    other half, key dedup inside the watermark horizon, is
    :func:`deduped_stream`).

    The value sum uses exact integer micro-units (order-free across the
    state store's accumulation order), same rule as the session aggregate.
    """
    ev = events.withColumn("event_time", F.col("ts").cast("timestamp"))
    return (
        ev.withWatermark("event_time", watermark)
        .groupBy(F.col("event_type"), F.window("event_time", window))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.sum(F.floor(F.col("value") * F.lit(1e6))) / F.lit(1e6)).alias(
                "sum_value"
            ),
        )
        .select(
            "event_type",
            F.col("window.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )
