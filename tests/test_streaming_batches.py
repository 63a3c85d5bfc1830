"""Cross-micro-batch streaming semantics.

The driver-facing streaming plans drain the single harness parquet in
ONE micro-batch, which cannot distinguish carried state from
per-batch recomputation.  These tests split events into three
time-ordered files and stream with ``maxFilesPerTrigger=1`` so state
(session folds, watermarked windows, dedup) must survive batch
boundaries to produce the batch-equivalent answer.
"""

from __future__ import annotations

import shutil
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from omniengine_spark.sources import load_table
from omniengine_spark.sources.sinks import scratch_dir
from omniengine_spark.streaming.jobs import run_available_now, stamp_batch

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def split_events_dir(spark):
    """events split into 3 parquet files by ts terciles, written in
    time order (FileStreamSource picks files up in mtime order)."""
    ev = load_table(spark, SF_SMOKE, "events")
    t1, t2 = (
        ev.select(
            F.percentile_approx("ts", 1 / 3).alias("a"),
            F.percentile_approx("ts", 2 / 3).alias("b"),
        )
        .collect()[0]
    )
    path = scratch_dir("stream-batches")
    parts = [
        ev.filter(F.col("ts") <= F.lit(t1)),
        ev.filter((F.col("ts") > F.lit(t1)) & (F.col("ts") <= F.lit(t2))),
        ev.filter(F.col("ts") > F.lit(t2)),
    ]
    for i, part in enumerate(parts):
        part.coalesce(1).write.mode("append").parquet(path)
        time.sleep(1.1)  # distinct mtimes → deterministic file order
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _stream(spark, path):
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def test_windowed_counts_survive_batch_boundaries(spark, split_events_dir):
    """complete-mode windowed counts over 3 micro-batches == batch
    groupBy — hour windows spanning a file boundary must merge their
    partial counts across batches."""
    ev = _stream(spark, split_events_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("h"), "n")
    )
    got = {
        (r["h"], r["n"]) for r in run_available_now(agg, "complete").collect()
    }
    want = {
        (r["h"], r["n"])
        for r in spark.read.parquet(split_events_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_append_mode_emits_watermark_closed_windows_only(
    spark, split_events_dir
):
    """append mode across 3 time-ordered batches: emitted windows are
    exactly those whose end ≤ final watermark (max ts − 1 h) — each
    emitted once, none duplicated across batches."""
    ev = _stream(spark, split_events_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("h"), "n")
    )
    rows = run_available_now(agg, "append").collect()
    hs = [r["h"] for r in rows]
    assert len(hs) == len(set(hs)), "window emitted more than once"

    batch = spark.read.parquet(split_events_dir)
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    want = {
        (r["h"], r["n"])
        for r in batch.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if (r["h"] - max_ts).total_seconds() <= -2 * 3600
    }
    got = {(r["h"], r["n"]) for r in rows}
    assert got == want


def test_stateful_session_fold_carries_state_across_batches(
    spark, split_events_dir
):
    """the applyInPandasWithState session fold must carry (last_ts,
    n_sessions) across the 3 batches: a gap that does NOT span a file
    boundary must not open a session just because a new batch began."""
    # same fold body the production job uses, wired to the split-file
    # stream (stream_table is keyed to the harness layout)
    ev = _stream(spark, split_events_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id"
    )
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import numpy as np

    gap_s = 30 * 60
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_sessions", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_epoch", T.DoubleType()),
            T.StructField("n_sessions", T.LongType()),
        ]
    )

    def fold(key, batches, state: GroupState):
        last_epoch, n_sessions = state.get if state.exists else (None, 0)
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            s = pdf["ts"]
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            epochs = (
                s.astype("datetime64[ns]").astype("int64").to_numpy() / 1e9
            )
            n_sessions += int((np.diff(epochs) > gap_s).sum())
            if last_epoch is None or epochs[0] - last_epoch > gap_s:
                n_sessions += 1
            last_epoch = float(epochs[-1])
        state.update((last_epoch, n_sessions))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_sessions": [n_sessions]}
        )

    agg = ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    updates = run_available_now(agg, "update")
    got = {
        (r["user_id"], r["n_sessions"])
        for r in updates.groupBy("user_id")
        .agg(F.max("n_sessions").alias("n_sessions"))
        .collect()
    }

    # batch truth: classic gap-cut
    batch = spark.read.parquet(split_events_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    flagged = batch.select(
        "user_id",
        F.when(
            prev.isNull()
            | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTE")),
            1,
        )
        .otherwise(0)
        .alias("ns"),
    )
    want = {
        (r["user_id"], r["n"])
        for r in flagged.groupBy("user_id")
        .agg(F.sum("ns").cast("long").alias("n"))
        .collect()
    }
    assert got == want


def test_stateful_streams_equivalent_under_rocksdb_state_store(spark):
    """The bounded-state story at 100 TB rests on RocksDB state
    stores (state spills to local disk instead of executor heap).
    The same stateful jobs must produce identical results under the
    default HDFS-backed provider and RocksDB — state-store choice is
    an ops knob, never a semantics knob."""
    from omniengine_spark.plans import QUERIES

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(key, None)

    def run(name):
        df = QUERIES[name](spark, SF_SMOKE)
        return sorted(map(tuple, df.collect()))

    try:
        for name in ("x4_stream_sessionize", "x9_stream_balance_fold"):
            spark.conf.unset(key)
            default_rows = run(name)
            spark.conf.set(key, rocks)
            rocks_rows = run(name)
            assert rocks_rows == default_rows, name
            assert len(rocks_rows) > 0, name
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_session_fold_correct_when_group_spans_arrow_chunks(spark):
    """A user whose micro-batch rows exceed maxRecordsPerBatch
    arrives at the stateful processor as SEVERAL unsorted Arrow
    chunks; the fold must sort the whole group once, not per chunk —
    per-chunk sorting counts phantom sessions at chunk seams."""
    from omniengine_spark.plans import QUERIES

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")  # ~67 events/user at sf0.001 → ~10 chunks
        got = {
            r["user_id"]: r["n_sessions"]
            for r in QUERIES["x4_stream_sessionize"](
                spark, SF_SMOKE
            ).collect()
        }
    finally:
        spark.conf.set(key, old)
    ev = load_table(spark, SF_SMOKE, "events")
    gap_s = 30 * 60
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    expected = {
        r["user_id"]: r["n"]
        for r in (
            ev.withColumn(
                "gap",
                F.col("ts").cast("long")
                - F.lag(F.col("ts").cast("long")).over(w),
            )
            .withColumn(
                "new_s",
                F.when(
                    F.col("gap").isNull() | (F.col("gap") > gap_s), 1
                ).otherwise(0),
            )
            .groupBy("user_id")
            .agg(F.sum("new_s").alias("n"))
            .collect()
        )
    }
    assert got == expected


def test_exactly_once_sink_survives_multiple_batches(
    spark, split_events_dir
):
    """The foreachBatch idempotent-overwrite sink must ACCUMULATE
    across micro-batches: partitioning must include the batch id, or
    each batch's dynamic overwrite clobbers earlier batches' rows in
    the shared shard partitions."""
    from omniengine_spark.sources.sinks import (
        read_warehouse,
        write_partitioned,
    )

    ev = _stream(spark, split_events_dir).select(
        "event_id",
        (F.col("event_id") % 8).cast("long").alias("shard"),
    )
    path = scratch_dir("stream-wh-multibatch")

    def write_batch(batch_df, batch_id):
        stamped = stamp_batch(batch_df, batch_id)
        write_partitioned(stamped, path, ["batch_id", "shard"])
        if batch_id == 1:  # replay probe mid-stream
            write_partitioned(stamped, path, ["batch_id", "shard"])

    q = (
        ev.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch_dir("stream-wh-mb-ckpt"))
        .start()
    )
    q.awaitTermination()
    total = read_warehouse(spark, path, stamp_batch(ev, 0).schema).count()
    expected = load_table(spark, SF_SMOKE, "events").count()
    shutil.rmtree(path, ignore_errors=True)
    assert total == expected


def test_timer_expiry_chunking_invariant(spark):
    """x12's drained result must not depend on HOW the stream is
    micro-batched, provided the source honors in-order delivery (the
    contract a bus partition provides; the 1 h watermark tolerates
    1 h of disorder).  Round 6's stream bench measured 13,819 vs
    14,996 output rows at 20 vs 5 chunks over identical input — root
    cause was the STAGING, not the operator: repartitionByRange write
    tasks finish in arbitrary order, FileStreamSource consumes by
    (mtime, path), so whole time ranges arrived beyond-watermark late
    and were dropped by contract.  With mtime-ordered chunks the
    fold is chunking-invariant: this pins 1 file vs 4 time-ordered
    files delivering one-per-micro-batch."""
    import os

    from omniengine_spark.streaming.jobs import offer_expiry_with_timers

    ev = load_table(spark, SF_SMOKE, "events")
    qs = ev.select(
        F.percentile_approx("ts", 0.25).alias("a"),
        F.percentile_approx("ts", 0.5).alias("b"),
        F.percentile_approx("ts", 0.75).alias("c"),
    ).collect()[0]
    t1, t2, t3 = qs["a"], qs["b"], qs["c"]
    sf_dir = scratch_dir("x12-chunking")
    ev_dir = os.path.join(sf_dir, "events.parquet")
    parts = [
        ev.filter(F.col("ts") <= F.lit(t1)),
        ev.filter((F.col("ts") > F.lit(t1)) & (F.col("ts") <= F.lit(t2))),
        ev.filter((F.col("ts") > F.lit(t2)) & (F.col("ts") <= F.lit(t3))),
        ev.filter(F.col("ts") > F.lit(t3)),
    ]
    for part in parts:
        part.coalesce(1).write.mode("append").parquet(ev_dir)
        time.sleep(1.1)  # distinct mtimes → in-order delivery

    def rows(sf):
        out = offer_expiry_with_timers(spark, sf, horizon_minutes=30)
        return sorted(map(tuple, out.collect()))

    single = rows(SF_SMOKE)
    os.environ["SPARK_GRAFT_STREAM_MAX_FILES"] = "1"
    try:
        chunked = rows(sf_dir)
    finally:
        os.environ.pop("SPARK_GRAFT_STREAM_MAX_FILES", None)
    assert single, "expiry fold emitted nothing on the fixture"
    assert chunked == single
    shutil.rmtree(sf_dir, ignore_errors=True)


def test_memory_sink_drains_leave_no_tables(spark):
    """A memory-sink drain drops its sink table: after the availableNow
    (x1) and socket (x17) drains no ``omni_stream_sink_*`` table is
    left in the session, and each returned frame still holds the
    drained rows."""
    from omniengine_spark.plans import QUERIES

    for name in ("x1_stream_hourly_counts", "x17_socket_stream"):
        assert QUERIES[name](spark, SF_SMOKE).count() > 0, name
    assert not [
        r.tableName
        for r in spark.sql("SHOW TABLES").collect()
        if r.tableName.startswith("omni_stream_sink_")
    ]
