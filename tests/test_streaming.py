"""Streaming semantics: session_window aggregation equals the batch gap
sessionizer; incremental file arrival reproduces the all-at-once result;
poison rows land in quarantine, never in the good sink."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest

from uncharted_ta1_spark import datagen
from uncharted_ta1_spark.operators.sessionize import session_aggs, sessionize
from uncharted_ta1_spark.streaming.sessions import (
    events_stream,
    quarantine_foreach_batch,
    run_available_now,
    sessionized_stream,
)

SF = "/root/testdata/sf0.001"
GAP_US = 1_800_000_000


def _stage_events(spark, tmp_path, n_files: int) -> str:
    src = str(tmp_path / "events_src")
    (
        spark.read.parquet(f"{SF}/events.parquet")
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(src)
    )
    return src


def _batch_golden(spark):
    ev = datagen.events_epoch_df(spark, SF)
    sess = sessionize(ev, keys=["user_id"], ts="ts_us", gap=GAP_US)
    per = session_aggs(sess, keys=["user_id"], ts="ts_us", agg_cols={"value": "sum"})
    return per.select(
        "user_id", "session_len", "session_sum_value", "session_start"
    ).toPandas().sort_values(["user_id", "session_start"]).reset_index(drop=True)


def test_session_window_equals_batch(spark, tmp_path):
    src = _stage_events(spark, tmp_path, 4)
    stream = sessionized_stream(events_stream(spark, src), gap="30 minutes")
    run_available_now(stream, checkpoint_dir=str(tmp_path / "ckpt"), query_name="s1")
    got = (
        spark.table("s1")
        .select(
            "user_id",
            "session_len",
            "session_sum_value",
            F.unix_micros(F.col("first_event_time")).alias("session_start"),
        )
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    want = _batch_golden(spark)
    assert len(got) == len(want)
    assert (got.user_id.values == want.user_id.values).all()
    assert (got.session_len.values == want.session_len.values).all()
    assert (got.session_start.values == want.session_start.values).all()
    assert abs(got.session_sum_value.values - want.session_sum_value.values).max() < 1e-6


def test_incremental_arrival_same_result(spark, tmp_path):
    """maxFilesPerTrigger=1 (prefetch-1 analog): many micro-batches must
    converge to the same session table as one big batch."""
    src = _stage_events(spark, tmp_path, 6)
    # files arrive in arbitrary (not time) order: the watermark must span the
    # replay window or genuinely-late rows are dropped (correct streaming
    # semantics, but this test asserts equality with the batch result)
    stream = sessionized_stream(
        events_stream(spark, src, max_files_per_trigger=1),
        gap="30 minutes",
        watermark="60 days",
    )
    run_available_now(stream, checkpoint_dir=str(tmp_path / "ckpt2"), query_name="s2")
    got = spark.table("s2").agg(
        F.sum("session_len").alias("n"), F.count(F.lit(1)).alias("k")
    ).collect()[0]
    want = _batch_golden(spark)
    assert got.n == int(want.session_len.sum())
    assert got.k == len(want)


def test_quarantine_split(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    good_dir = str(tmp_path / "good")
    bad_dir = str(tmp_path / "bad")

    def good_writer(df, _):
        df.write.mode("append").parquet(good_dir)

    def bad_writer(df, _):
        df.write.mode("append").parquet(bad_dir)

    fn = quarantine_foreach_batch(good_writer, bad_writer, F.col("value") >= 1.0)
    fn(ev, 0)  # exercise the splitter on a batch directly
    good = spark.read.parquet(good_dir)
    bad = spark.read.parquet(bad_dir)
    assert good.count() + bad.count() == ev.count()
    assert good.where("value < 1.0").count() == 0
    assert bad.where("value >= 1.0").count() == 0
    shutil.rmtree(good_dir, ignore_errors=True)


def test_streaming_asof_serve_equals_batch(spark, tmp_path):
    """The streaming serving path (probes arrive as a stream, answered per
    micro-batch against static state) must produce EXACTLY the batch as-of
    answer set, independent of probe batching (here: 5 files, one per
    trigger)."""
    from uncharted_ta1_spark.operators.asof import asof_join
    from uncharted_ta1_spark.streaming.asof_serve import serve_probe_stream

    seq = datagen.sequences_df(spark, SF).select(
        "doc_id", "source", "seq_no", "event_epoch", "tokens", "n_tok"
    )
    prb = datagen.probes_df(spark, SF).select(
        "probe_id", "doc_id", "source", "ts_epoch"
    )

    # stage the probes as a file stream
    src = str(tmp_path / "probe_src")
    prb.repartition(5).write.mode("overwrite").parquet(src)
    probe_stream = spark.readStream.schema(
        "probe_id string, doc_id string, source string, ts_epoch long"
    ).option("maxFilesPerTrigger", 1).parquet(src)

    out_dir = str(tmp_path / "answers")

    def sink(df, _batch_id):
        df.write.mode("append").parquet(out_dir)

    q = serve_probe_stream(
        probe_stream,
        seq,
        keys=["doc_id", "source"],
        payload_cols=["tokens", "n_tok"],
        sink=sink,
        checkpoint_dir=str(tmp_path / "ckpt3"),
    )
    q.awaitTermination()

    got = spark.read.parquet(out_dir)
    want = asof_join(
        seq,
        prb,
        keys=["doc_id", "source"],
        payload_cols=["tokens", "n_tok"],
        defaults={"tokens": F.array().cast("array<int>"), "n_tok": F.lit(-1)},
    ).select(*got.columns)
    assert got.count() == prb.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_drain_wait_is_bounded(spark, tmp_path, monkeypatch):
    """A drain that outlasts ``DRAIN_TIMEOUT_SEC`` is stopped and raises
    ``TimeoutError`` instead of blocking forever — through the replay
    helper and through the streaming as-of query, which share the bound."""
    import __spark_entry__ as E
    from uncharted_ta1_spark.streaming import sessions

    before = {q.id for q in spark.streams.active}
    monkeypatch.setattr(sessions, "DRAIN_TIMEOUT_SEC", 0.001)  # 1 ms: no drain fits
    stream = sessionized_stream(events_stream(spark, _stage_events(spark, tmp_path, 2)))
    with pytest.raises(TimeoutError):
        run_available_now(stream, checkpoint_dir=str(tmp_path / "ckpt_to"), query_name="s_to")
    with pytest.raises(TimeoutError):
        E.q_streaming_asof_serve(spark, SF)
    assert {q.id for q in spark.streams.active} <= before


def test_merge_time_travel(spark, tmp_path):
    """Older MERGE snapshots stay readable (Iceberg VERSION AS OF analog)."""
    from uncharted_ta1_spark.plans.merge import merge_upsert, read_snapshot

    t = str(tmp_path / "tt")
    df0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    df1 = spark.createDataFrame([("b", 20), ("c", 3)], "k string, v long")
    merge_upsert(spark, t, df0, ["k"])
    merge_upsert(spark, t, df1, ["k"])
    v0 = {r.k: r.v for r in read_snapshot(spark, t, 0).collect()}
    v1 = {r.k: r.v for r in read_snapshot(spark, t, 1).collect()}
    assert v0 == {"a": 1, "b": 2}
    assert v1 == {"a": 1, "b": 20, "c": 3}


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """Rows duplicated across FILES (arriving in different micro-batches via
    maxFilesPerTrigger=1) must be emitted exactly once — state carries
    across batches; the batch golden is a plain dropDuplicates."""
    from uncharted_ta1_spark.streaming.sessions import deduped_stream

    ev = spark.read.parquet(f"{SF}/events.parquet")
    src = str(tmp_path / "dup_src")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    ev.repartition(2).write.mode("append").parquet(src)  # every row twice

    stream = deduped_stream(
        events_stream(spark, src, max_files_per_trigger=1),
        key_cols=("event_id",),
        watermark="60 days",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_stream")
    n_distinct = ev.select("event_id").distinct().count()
    assert got.count() == n_distinct
    assert got.groupBy("event_id").count().where("count > 1").count() == 0


def test_windowed_counts_late_rows_dropped(spark, tmp_path):
    """Append-mode tumbling windows: a replayed row whose window was
    finalized must be DROPPED (no double-count), and a far-future flush
    row pushes the watermark past every real window so each is emitted
    exactly once (its own window is never emitted).

    Measured Spark 4 semantics (4 experiments, see q_streaming_windowed):
    the late filter drops a row iff its WINDOW END <= the PREVIOUS batch's
    eviction watermark — one batch of lag, keyed on the window not the row
    timestamp.  So the replay here arrives two watermark-advancing batches
    after its origin, mirroring the staged corpus where the margin is ~10
    days."""
    import os
    import time

    from pyspark.sql import Row

    from uncharted_ta1_spark.streaming.sessions import windowed_counts_stream

    base = 1_700_000_000_000_000  # us
    hour = 3_600_000_000

    def _ev(eid, ts_us, etype, value):
        return Row(
            event_id=eid, ts_us=ts_us, user_id=1, event_type=etype,
            value=value, props="",
        )

    batches = [
        # batch 0: two windows' worth of early rows
        [_ev(1, base + 10, "a", 1.0), _ev(2, base + hour + 10, "a", 2.0)],
        # batches 1-2: later rows -> watermark advances TWICE past batch
        # 0's windows (the late filter lags eviction by one batch)
        [_ev(3, base + 10 * hour, "b", 3.0)],
        [_ev(4, base + 20 * hour, "b", 4.0)],
        # batch 3: REPLAY of batch 0's first row — its window end is ~9.5h
        # older than even the previous batch's watermark -> must drop
        [_ev(1, base + 10, "a", 1.0)],
        # batch 4: flush row far past everything
        [_ev(99, base + 30 * hour, "zz_flush", 0.0)],
    ]
    src = str(tmp_path / "win_src")
    os.makedirs(src)
    now = time.time()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows).select(
            "event_id",
            F.timestamp_micros(F.col("ts_us")).cast("timestamp_ntz").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        tmp = str(tmp_path / f"w{i}")
        df.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(src, f"f{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (now + i, now + i))

    stream = windowed_counts_stream(
        events_stream(spark, src, max_files_per_trigger=1),
        window="1 hour", watermark="30 minutes",
    )
    run_available_now(
        stream, checkpoint_dir=str(tmp_path / "winckpt"),
        query_name="win1", output_mode="append",
    )
    got = {
        (r["event_type"], r["window_start"].timestamp()): (
            r["n_events"], r["sum_value"]
        )
        for r in spark.table("win1").collect()
    }
    def _ws(ts_us):  # clock-hour window start for an event time
        sec = ts_us // 1_000_000
        return float(sec - sec % 3600)

    want = {
        ("a", _ws(base + 10)): (1, 1.0),        # replay NOT double-counted
        ("a", _ws(base + hour + 10)): (1, 2.0),
        ("b", _ws(base + 10 * hour)): (1, 3.0),
        ("b", _ws(base + 20 * hour)): (1, 4.0),
    }
    # flush row's own window is never emitted (watermark can't pass it)
    assert got == want


def test_left_outer_interval_join_flushes_unmatched(spark, tmp_path):
    """Left-outer stream-stream join: the unmatched view is emitted with a
    NULL click only after sentinel batches advance the GLOBAL watermark
    (sentinels must pass both sides' filters; two flush batches cover the
    measured one-micro-batch emission lag)."""
    import os
    import time

    from pyspark.sql import Row

    from uncharted_ta1_spark.streaming.joins import interval_join_streams

    base = 1_700_000_000_000_000
    hour = 3_600_000_000
    mn31 = 31 * 60 * 1_000_000

    def _ev(eid, ts_us, etype, uid=1):
        return Row(event_id=eid, ts_us=ts_us, user_id=uid,
                   event_type=etype, value=0.0, props="")

    batches = [
        [_ev(1, base, "view"), _ev(2, base + 10_000_000, "click"),
         _ev(3, base + 2 * hour, "view")],           # view 3: no click
        [_ev(-10, base + 10 * hour, "view", uid=-1),
         _ev(-11, base + 10 * hour + mn31, "click", uid=-1)],
        [_ev(-20, base + 20 * hour, "view", uid=-1),
         _ev(-21, base + 20 * hour + mn31, "click", uid=-1)],
    ]
    src = str(tmp_path / "loj_src")
    os.makedirs(src)
    now = time.time()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows).select(
            "event_id",
            F.timestamp_micros(F.col("ts_us")).cast("timestamp_ntz").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        tmp = str(tmp_path / f"loj_w{i}")
        df.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(src, f"f{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (now + i, now + i))

    views = events_stream(spark, src, max_files_per_trigger=1).where(
        F.col("event_type") == "view")
    clicks = events_stream(spark, src, max_files_per_trigger=1).where(
        F.col("event_type") == "click")
    joined = interval_join_streams(
        views, clicks, key="user_id", window="30 minutes",
        watermark="1 hour", how="leftOuter",
    )
    run_available_now(
        joined, checkpoint_dir=str(tmp_path / "loj_ck"),
        query_name="loj_t", output_mode="append",
    )
    got = {
        (r["left_id"], r["right_id"])
        for r in spark.table("loj_t").where(F.col("user_id") >= 0).collect()
    }
    assert got == {(1, 2), (3, None)}
