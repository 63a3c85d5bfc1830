"""Structured Streaming jobs — the reference's per-block incremental
loop (``omniEngine.py:109-232``) re-expressed as real streams.

Each job is written so the *same* transformation runs over a file
stream with ``availableNow`` (drain-everything) semantics and lands in
a memory sink; the driver-facing plan wrappers in
``plans/streaming_plans.py`` then return the sink as a batch
DataFrame, which makes every streaming job oracle-checkable against
the equivalent batch SQL.

Scale notes: on a cluster the same code points at an arriving-file or
Kafka source with a real checkpoint location; state stores hold only
per-window/per-key aggregates, bounded by the watermark horizon
(reference analog: the 5 h mempool expiry, ``sql.py:327``).
"""

from __future__ import annotations

import itertools
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omniengine_spark.sources import stream_table
from omniengine_spark.sources.sinks import stream_checkpoint_dir

_SINK_COUNTER = itertools.count()


@contextmanager
def _stream_state_partitions(spark: SparkSession):
    """Pin the state-store partition count for the duration of a
    stream start, then restore the session default.

    Stateful streaming operators instantiate one state store per
    shuffle partition, and the count is FROZEN into the checkpoint at
    query creation — so it is a deployment decision, not something AQE
    can fix at runtime.  Default 8 suits the harness's finite drains
    (5 committed stores per micro-batch cost more than the data);
    on a cluster set ``SPARK_GRAFT_STREAM_PARTITIONS`` ≈ 2-3× executor
    cores so state shards spread and rescale headroom exists.

    The pin sets SESSION-global conf: a plan built on another thread
    while a stream starts sees the pinned count, and two overlapping
    pins can restore each other's value.  A session must be driven
    from one thread.
    """
    n = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain_memory_sink(
    stream_df: DataFrame, output_mode: str, drain=None
) -> DataFrame:
    """Run ``stream_df`` into a fresh memory sink until drained and
    return the drained rows as a batch DataFrame.

    ``drain(query, sink_name)`` polls a live source until it is done;
    without one the stream runs with the ``availableNow`` trigger to
    the end of its input.  The query is then stopped, its checkpoint
    deleted (a memory sink can never be resumed — the same lifecycle
    the auto-created temp checkpoint had) and the sink's table
    dropped: the returned frame holds the analyzed sink plan, not the
    table name, so the rows live exactly as long as the frame and no
    ``omni_stream_sink_*`` table accumulates in the session."""
    spark = stream_df.sparkSession
    name = f"omni_stream_sink_{next(_SINK_COUNTER)}"
    ckpt = stream_checkpoint_dir(name)
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
    )
    if drain is None:
        writer = writer.trigger(availableNow=True)
    with _stream_state_partitions(spark):
        q = writer.start()
        try:
            if drain is None:
                q.awaitTermination()
            else:
                drain(q, name)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    sink = spark.table(name)
    spark.catalog.dropTempView(name)
    return sink


def run_available_now(
    stream_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Drain a finite stream into a memory sink; return it as a batch
    DataFrame.  availableNow processes all existing input in
    micro-batches then stops — the reference's catch-up-to-tip loop."""
    return _drain_memory_sink(stream_df, output_mode)


def hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1 h windowed counts per event type with a 1 h
    watermark (X1/A5: the per-block txstats rollup as a stream).

    complete mode so every window emits even at end-of-stream.
    NOTE: complete-mode aggregations never evict window state — the
    watermark is inert here.  On a genuinely unbounded source run
    this in append mode (x11 is exactly that job, with the
    watermark-eviction emission rule oracle-pinned); complete mode
    is for finite drains and small window domains.
    """
    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour").alias("win"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("hour_value"),
        )
        .select(
            # NTZ output: matches the batch/oracle naive-timestamp
            # convention regardless of which session built the stream
            # (the stream itself runs on TIMESTAMP for the watermark).
            F.col("win.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n_events",
            "hour_value",
        )
    )
    return run_available_now(agg, "complete")


def sessionize_with_state(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Per-user session counting as a CUSTOM STATEFUL streaming
    operator (applyInPandasWithState): state carries (last_ts,
    n_sessions) across micro-batches; a gap > ``gap_minutes`` opens a
    new session.  The reference's per-entity mutable state tables
    (ActiveOffers et al, X4 block-height timers) follow this exact
    shape.  Update-mode emissions land in the memory sink; the last
    emission per user is the final count.
    """
    import pandas as pd  # local: ships cleanly to workers
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    ev = stream_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    gap_s = gap_minutes * 60

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
        import numpy as np

        last_epoch, n_sessions = (
            state.get if state.exists else (None, 0)
        )
        # ONE sort over the whole group, not per Arrow chunk: a key
        # with more rows than maxRecordsPerBatch arrives as several
        # UNSORTED chunks (the shuffle does not time-order), and
        # per-chunk sorting would count phantom sessions at every
        # chunk seam.  The group is one user's micro-batch — bounded
        # by the batch, not the corpus.
        chunks = [pdf for pdf in batches if not pdf.empty]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            # vectorized gap-cut: a session opens at every gap >
            # gap_s, plus at the head if it gaps against carried
            # state (or none yet)
            s = pdf["ts"]
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            epochs = (
                s.astype("datetime64[ns]").astype("int64").to_numpy()
                / 1e9
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
    # last update per user is the final session count
    w_last = updates.groupBy("user_id").agg(
        F.max("n_sessions").alias("n_sessions")
    )
    return w_last


def click_purchase_attribution(
    spark: SparkSession, sf_dir: str, horizon_minutes: int = 60
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join: every purchase is
    attributed to the same user's clicks in the preceding
    ``horizon_minutes``.  Both sides carry a 1 h watermark and the
    join condition bounds event time on both sides, so each side's
    state store holds only one horizon of rows — the bounded-state
    recipe for joining two unbounded streams (the reference joins
    offers to accepts per block, ``sql.py:605-641``; block == the
    micro-batch here).

    The aggregate (purchases with ≥1 prior click, per event type of
    the click) runs on the joined stream in complete mode.
    """
    ev = stream_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {horizon_minutes} MINUTE")
        ),
    )
    # stream-stream joins emit matched rows in APPEND mode only; the
    # rollup is presentation, so it runs as batch on the drained sink
    pairs = run_available_now(
        joined.select("p_user", "purchase_id", "click_id"), "append"
    )
    return pairs.groupBy("p_user").agg(
        F.count_distinct("purchase_id").alias("n_attributed"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


def hourly_counts_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermarked windowed count: a window row is emitted
    exactly once, when the watermark (max event time − 1 h) passes its
    end — after that the window's state is evicted and late rows are
    dropped.  Complete mode (x1) re-emits everything each batch and
    its state never shrinks; append mode is the only shape that
    survives an unbounded stream, so its exact emission rule is worth
    pinning: with availableNow draining the whole file, the final
    watermark is max(ts) − 1 h and precisely the windows whose END ≤
    that watermark have been emitted.  The oracle states that rule in
    SQL.
    """
    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("hour_start"),
            "n_events",
        )
    )
    return run_available_now(agg, "append")


def deduped_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once counts from an at-least-once source: the stream is
    unioned with itself (every event delivered twice), then
    dropDuplicates on the event key collapses redeliveries —
    the reference's already-in-db existence check (J8/X3,
    ``sql.py:382-384``) as streaming state.
    """
    ev = stream_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    doubled = ev.unionByName(ev)  # simulated redelivery
    # dropDuplicatesWithinWatermark, not dropDuplicates([key]): plain
    # key-only dedup state is NEVER evicted (eviction requires the
    # event-time column inside the key set), so an unbounded
    # at-least-once source would grow state forever.  The
    # within-watermark form keeps one entry per key per horizon —
    # redeliveries land inside the horizon by definition.
    deduped = doubled.withWatermark(
        "ts", "1 hour"
    ).dropDuplicatesWithinWatermark(["event_id"])
    counts = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique")
    )
    return run_available_now(counts, "complete")


def offer_expiry_with_timers(
    spark: SparkSession, sf_dir: str, horizon_minutes: int = 30
) -> DataFrame:
    """EVENT-TIME TIMERS via applyInPandasWithState with
    ``GroupStateTimeout.EventTimeTimeout``: every click opens a
    pending "offer" with a deadline ``horizon_minutes`` out; a
    same-user purchase inside the horizon clears it; otherwise the
    state times out when the watermark passes the earliest open
    deadline and the expired offers are emitted.  This is the
    reference's block-height expiry sweep (``expireAccepts``,
    sql.py:537-588) as push-based timer state instead of a per-block
    table scan — state holds only open offers, and each key re-arms
    its timeout to its next-earliest deadline.

    The 1 h watermark delay exceeds the 30 min horizon, so a clearing
    purchase always reaches the processor before its offer's timeout
    can fire — emission is deterministic for any time-ordered batch
    split.  (Spark 4's transformWithStateInPandas has first-class
    per-timer registration, but its state protocol needs protobuf,
    absent in this environment; the timeout-based form expresses the
    same semantics.)
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    horizon_ms = horizon_minutes * 60_000

    def _epoch_ms(s: pd.Series) -> pd.Series:
        if getattr(s.dtype, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return s.astype("datetime64[ns]").astype("int64") // 1_000_000

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("click_ms", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("deadlines", T.ArrayType(T.LongType())),
            T.StructField("clicks", T.ArrayType(T.LongType())),
        ]
    )

    def fold(key, batches, state: GroupState):
        pend: list[tuple[int, int]] = []
        if state.exists:
            deadlines, clicks = state.get
            pend = list(zip(deadlines, clicks))

        events: list[tuple[int, str]] = []
        for pdf in batches:
            if pdf.empty:
                continue
            ms = _epoch_ms(pdf["ts"])
            events += list(zip(ms, pdf["event_type"]))
        events.sort()
        for ms, kind in events:
            if kind == "click":
                pend.append((ms + horizon_ms, ms))
            else:  # purchase clears open offers it falls inside
                pend = [
                    (d, c) for (d, c) in pend if not (c < ms <= d)
                ]

        wm = state.getCurrentWatermarkMs()
        fired = sorted(
            (d, c) for (d, c) in pend if d <= wm
        )
        pend = [(d, c) for (d, c) in pend if d > wm]

        if pend:
            state.update(
                ([d for d, _ in pend], [c for _, c in pend])
            )
            # re-arm to the earliest open deadline (must be > wm)
            state.setTimeoutTimestamp(min(d for d, _ in pend))
        else:
            state.remove()
        if fired:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(fired),
                    "click_ms": [c for (_, c) in fired],
                }
            )

    ev = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("user_id", "ts", "event_type")
        .withWatermark("ts", "1 hour")
    )
    expired = ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    rows = run_available_now(expired, "update")
    return rows.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_expired"),
        F.sum("click_ms").cast("long").alias("sum_click_ms"),
    )


def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the event stream enriches against a batch
    dimension re-read every micro-batch (rate/property lookups in the
    reference, ``sql.py:282-295`` — the dim may change between
    blocks).  The static side broadcasts; no state store is involved
    at all, which is why this is the cheapest streaming join shape.
    """
    from omniengine_spark.sources import load_table

    ev = stream_table(spark, sf_dir, "events")
    users = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_total_events"))
    )
    joined = ev.join(F.broadcast(users), "user_id").filter(
        F.col("event_type") == "purchase"
    )
    # the streaming capability under test is the stateless broadcast
    # join; the rollup runs as batch on the drained sink (streaming
    # disallows COUNT DISTINCT)
    rows = run_available_now(
        joined.select("user_id", "user_total_events"), "append"
    )
    return rows.groupBy("user_total_events").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count_distinct("user_id").alias("n_users"),
    )


def stamp_batch(df: DataFrame, batch_id: int) -> DataFrame:
    """A micro-batch of ``exactly_once_warehouse_sink`` stamped with
    its id, the leading partition key of the warehouse it writes."""
    return df.withColumn("batch_id", F.lit(batch_id))


def exactly_once_warehouse_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """foreachBatch + idempotent partition overwrite — the production
    write path (X6: one transactional commit per block,
    ``omniEngine.py:210``).  The partition key leads with batch_id
    (Spark's checkpoint replays a failed batch under the SAME id with
    the same data), so a replayed batch dynamically overwrites
    exactly its own partitions and lands byte-identically instead of
    duplicating — exactly-once by idempotence, no sink transaction
    log needed.  The batch id MUST be in the partition key: a
    data-derived key alone (shard) is shared by every batch, and each
    batch's overwrite would silently delete the previous batches'
    rows in those shards.  (In the block pipeline the semantic
    equivalent is the block range — per-block partitions are
    batch-aligned by construction.)  The drained warehouse is read
    back and aggregated so the oracle can check the whole path
    end-to-end.
    """
    from omniengine_spark.sources.sinks import (
        read_warehouse,
        scratch_dir,
        write_partitioned,
    )

    path = scratch_dir("stream-warehouse")
    ckpt = stream_checkpoint_dir("stream-wh")
    ev = stream_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 8).cast("long").alias("shard"),
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        stamped = stamp_batch(batch_df, batch_id)
        write_partitioned(stamped, path, ["batch_id", "shard"])
        # idempotence probe: re-deliver the same batch — the dynamic
        # overwrite must leave the warehouse unchanged
        if batch_id == 0:
            write_partitioned(stamped, path, ["batch_id", "shard"])

    with _stream_state_partitions(spark):
        q = (
            ev.writeStream.foreachBatch(write_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)

    return (
        read_warehouse(spark, path, stamp_batch(ev, 0).schema)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


def socket_event_counts(
    spark: SparkSession, sf_dir: str, n_rows: int = 1000
) -> DataFrame:
    """LIVE message-bus source: Spark's TCP socket stream fed by an
    in-process server thread — the S1 streaming variant the chunked
    file stream approximates, over a real network connection instead
    of arriving files (reference: the cron pull loop,
    installOmniEngineCronJob.py:36, as a push stream).

    The server plays the bus: it serves the first ``n_rows`` events
    as ``event_id,event_type`` lines over one localhost connection
    and holds the socket open until the stream has drained them.
    The query aggregates counts + id-sums per type (integer-exact),
    so the batch oracle checks that delivery was EXACTLY the served
    set — at-least-once delivery or a dropped tail would hash-fail.

    Scale notes: the socket source is single-connection by design
    (Spark keeps it for tests/demos); a production bus is Kafka with
    partition-parallel readers, but source choice is config — every
    transformation below the source line is unchanged.
    """
    import socket
    import threading
    import time

    from omniengine_spark.sources import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(n_rows)
        .select("event_id", "event_type")
        .collect()
    )
    payload = "".join(
        f"{r['event_id']},{r['event_type']}\n" for r in rows
    ).encode()
    expected = len(rows)

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    drained = threading.Event()

    def serve() -> None:
        conn, _ = srv.accept()
        with conn:
            conn.sendall(payload)
            # keep the connection open until the reader drained it:
            # the socket source treats EOF as end-of-stream and a
            # premature close can drop the buffered tail
            drained.wait(timeout=120)

    threading.Thread(target=serve, daemon=True).start()

    lines = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", port)
        .load()
    )
    parsed = lines.select(
        F.split("value", ",").alias("f")
    ).select(
        F.col("f")[0].cast("long").alias("event_id"),
        F.col("f")[1].alias("event_type"),
    )
    agg = parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("sum_ids"),
    )

    def drain(q, name: str) -> None:
        # TCP delivery into the source buffer is asynchronous, so
        # processAllAvailable alone can return before the tail arrived
        # — poll until the sink holds exactly the served row count
        deadline = time.monotonic() + 90
        got = -1  # keep the timeout message raisable even if the
        # deadline elapses before the first poll completes
        try:
            while time.monotonic() < deadline:
                q.processAllAvailable()
                got = spark.table(name).agg(F.sum("n_events")).collect()[0][0]
                if got == expected:
                    return
                time.sleep(0.2)
            raise TimeoutError(
                f"socket stream drained {got}/{expected} rows"
            )
        finally:
            drained.set()

    try:
        return _drain_memory_sink(agg, "complete", drain)
    finally:
        srv.close()
