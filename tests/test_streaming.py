"""Structured Streaming semantics harness (SURVEY.md §2 rows B64, B66-B70,
A12; §5.2.3 staging-dir replay).

Pattern: events rows are re-staged as numbered parquet files with increasing
mtimes (simulated micro-batch arrivals), consumed with
`readStream.parquet + maxFilesPerTrigger=1 + trigger(availableNow)` —
deterministic offline replay of a stream, asserted against batch twins.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spark_kinesis_sql_asl_spark.tables import table

from .conftest import SF_SMOKE


def _stage(rows, out_dir: str, n_files: int, reorder_late: bool = False):
    """Slice time-ordered rows into n_files 'arrival' files. With
    reorder_late, one early event is moved into the last file — a late
    arrival for watermark tests."""
    os.makedirs(out_dir, exist_ok=True)
    rows = sorted(rows, key=lambda r: (r.ts, r.event_id))
    late = None
    if reorder_late:
        # pick an early event whose 1h window holds other events too —
        # otherwise the window has no on-time rows and is never emitted
        from collections import Counter

        hours = Counter(r.ts.replace(minute=0, second=0, microsecond=0) for r in rows)
        idx = next(
            i
            for i, r in enumerate(rows[:200])
            if hours[r.ts.replace(minute=0, second=0, microsecond=0)] >= 3
        )
        late = rows.pop(idx)  # early event, arrives last
    per = (len(rows) + n_files - 1) // n_files
    slices = [rows[i * per : (i + 1) * per] for i in range(n_files)]
    if late is not None:
        slices[-1] = slices[-1] + [late]
    for i, sl in enumerate(slices):
        tbl = pa.table(
            {
                "event_id": pa.array([r.event_id for r in sl], pa.int64()),
                "ts": pa.array([r.ts for r in sl], pa.timestamp("us")),
                "user_id": pa.array([r.user_id for r in sl], pa.int64()),
                "event_type": pa.array([r.event_type for r in sl], pa.string()),
                "value": pa.array([r.value for r in sl], pa.float64()),
                "props": pa.array([r.props for r in sl], pa.string()),
            }
        )
        f = os.path.join(out_dir, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))  # arrival order
    return late


@pytest.fixture(scope="module")
def events_rows(spark):
    return table(spark, SF_SMOKE, "events").collect()


def _stream(spark, staging: str):
    sch = table(spark, SF_SMOKE, "events").schema
    return (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )


def _drain(df_writer, timeout: int = 180):
    q = df_writer.start()
    q.awaitTermination(timeout)
    assert not q.isActive, "stream did not drain"
    return q


# --- B64: watermark drops late data ------------------------------------


def test_watermark_drops_late_rows(spark, events_rows, tmp_path):
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    late = _stage(events_rows, staging, n_files=6, reorder_late=True)

    agg = (
        _stream(spark, staging)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("ws"), "cnt")
    )
    _drain(
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    stream_counts = {r.ws: r.cnt for r in spark.read.parquet(out).collect()}

    batch = (
        table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("ws"), "cnt")
    )
    batch_counts = {r.ws: r.cnt for r in batch.collect()}

    late_ws = late.ts.replace(minute=0, second=0, microsecond=0)
    assert stream_counts[late_ws] == batch_counts[late_ws] - 1, (
        "late row should have been dropped by the watermark"
    )
    # every other emitted window agrees with batch
    for ws, cnt in stream_counts.items():
        if ws != late_ws:
            assert cnt == batch_counts[ws], f"window {ws} diverged"
    # only the un-finalized tail (past the last watermark) may be missing
    assert len(stream_counts) >= 0.8 * len(batch_counts)


# --- B66: stream-static join --------------------------------------------


def test_stream_static_join(spark, events_rows, tmp_path):
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    _stage(events_rows, staging, n_files=3)
    customer = table(spark, SF_SMOKE, "customer")

    joined = _stream(spark, staging).join(
        F.broadcast(customer),
        F.col("user_id") == F.col("c_custkey"),
    ).select("event_id", "c_custkey", "c_mktsegment")
    _drain(
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = spark.read.parquet(out)
    expect = (
        table(spark, SF_SMOKE, "events")
        .join(customer, F.col("user_id") == F.col("c_custkey"))
        .count()
    )
    assert got.count() == expect
    assert got.select("event_id").distinct().count() == got.count()


# --- B67: stream-stream join --------------------------------------------


def test_stream_stream_time_interval_join(spark, events_rows, tmp_path):
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    _stage(events_rows, staging, n_files=3)

    s = _stream(spark, staging)
    clicks = (
        s.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        s.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    _drain(
        clicks.join(purchases, cond)
        .select("c_id", "p_id")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = {(r.c_id, r.p_id) for r in spark.read.parquet(out).collect()}

    e = table(spark, SF_SMOKE, "events")
    bc = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    bp = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    expect = {
        (r.c_id, r.p_id)
        for r in bc.join(
            bp,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        ).select("c_id", "p_id").collect()
    }
    assert got == expect


# --- B68: arbitrary stateful op -----------------------------------------


def test_apply_in_pandas_with_state_running_count(spark, events_rows, tmp_path):
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=4)

    def running(key, pdfs, state: GroupState):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"user_id": [key[0]], "running_n": [cnt]})

    out = (
        _stream(spark, staging)
        .groupBy("user_id")
        .applyInPandasWithState(
            running,
            outputStructType="user_id bigint, running_n bigint",
            stateStructType="cnt bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _drain(
        out.writeStream.format("memory")
        .queryName("running_counts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = (
        spark.table("running_counts")
        .groupBy("user_id")
        .agg(F.max("running_n").alias("n"))  # running_n is monotonic
    )
    expect = {
        r.user_id: r.n
        for r in table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.user_id: r.n for r in got.collect()} == expect


# --- B69: output modes + A12 foreachBatch sink ---------------------------


def test_complete_mode_equals_batch(spark, events_rows, tmp_path):
    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=3)
    agg = (
        _stream(spark, staging)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _drain(
        agg.writeStream.format("memory")
        .queryName("by_type")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = {r.event_type: r.n for r in spark.table("by_type").collect()}
    expect = {
        r.event_type: r.n
        for r in table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect


def test_foreach_batch_sink(spark, events_rows, tmp_path):
    # A12: the write-side facade — per-epoch idempotent parquet writes
    # (epoch id in the path ≈ put_records batching + exactly-once replay).
    staging = str(tmp_path / "staging")
    sink_root = str(tmp_path / "sink")
    _stage(events_rows, staging, n_files=3)
    epochs = []

    def write_epoch(batch_df, epoch_id: int):
        epochs.append((epoch_id, batch_df.count()))
        batch_df.write.mode("overwrite").parquet(f"{sink_root}/epoch={epoch_id}")

    _drain(
        _stream(spark, staging)
        .writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    assert len(epochs) >= 2  # maxFilesPerTrigger=1 → multiple epochs
    total = spark.read.parquet(f"{sink_root}/epoch=*").count()
    assert total == len(events_rows)


# --- B70 / A3: checkpoint recovery --------------------------------------


def test_checkpoint_recovery_no_loss_no_dup(spark, events_rows, tmp_path):
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = sorted(events_rows, key=lambda r: (r.ts, r.event_id))
    half = len(rows) // 2
    _stage(rows[:half], staging, n_files=3)

    def windowed(src):
        return (
            src.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("window.start").alias("ws"), "event_type", "cnt")
        )

    _drain(
        windowed(_stream(spark, staging))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    n_first = spark.read.parquet(out).count()

    # later arrivals land as NEW files; restart with the SAME checkpoint —
    # stateful windows must resume, not recount (A3/B70)
    for i, r in enumerate(
        [rows[half + i : half + i + (len(rows) - half) // 3 + 1]
         for i in range(0, len(rows) - half, (len(rows) - half) // 3 + 1)]
    ):
        tbl = pa.table(
            {
                "event_id": pa.array([x.event_id for x in r], pa.int64()),
                "ts": pa.array([x.ts for x in r], pa.timestamp("us")),
                "user_id": pa.array([x.user_id for x in r], pa.int64()),
                "event_type": pa.array([x.event_type for x in r], pa.string()),
                "value": pa.array([x.value for x in r], pa.float64()),
                "props": pa.array([x.props for x in r], pa.string()),
            }
        )
        f = os.path.join(staging, f"1{i:03d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_100 + i, 1_700_000_100 + i))

    _drain(
        windowed(_stream(spark, staging))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    final = spark.read.parquet(out)
    assert final.count() > n_first
    # exactly-once per (window, type): no group emitted twice across restart
    assert (
        final.groupBy("ws", "event_type").count().where(F.col("count") > 1).count()
        == 0
    )
    # every emitted group's count matches the batch twin over ALL data
    batch = {
        (r.ws, r.event_type): r.cnt
        for r in table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("ws"), "event_type", "cnt")
        .collect()
    }
    for r in final.collect():
        assert batch[(r.ws, r.event_type)] == r.cnt


# --- B69: update mode + triggers -----------------------------------------


def test_update_mode_final_counts_equal_batch(spark, events_rows, tmp_path):
    # update mode re-emits only changed keys per epoch; the LAST emission
    # for each key must equal the batch-computed final count.
    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=4)
    emitted = []

    def capture(batch_df, epoch_id: int):
        emitted.extend((epoch_id, r.event_type, r.n) for r in batch_df.collect())

    _drain(
        _stream(spark, staging)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.foreachBatch(capture)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    last = {}
    for epoch, etype, n in sorted(emitted):
        last[etype] = n
    expect = {
        r.event_type: r.n
        for r in table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert last == expect
    # multiple epochs emitted partial states before converging
    assert len(emitted) > len(expect)


def test_processing_time_trigger_drains(spark, events_rows, tmp_path):
    # B69: wall-clock micro-batch trigger; stop once all input is consumed.
    import time

    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=2)
    q = (
        _stream(spark, staging)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("pt_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 120
        total = table(spark, SF_SMOKE, "events").count()
        while time.time() < deadline:
            done = (
                spark.table("pt_counts").agg(F.sum("n").alias("s")).collect()[0].s
                or 0
            )
            if done == total:
                break
            time.sleep(1)
        assert done == total
    finally:
        q.stop()


# --- 100 TB state backend: RocksDB state store ---------------------------


def test_rocksdb_state_store_provider(spark, events_rows, tmp_path):
    # DESIGN-100TB.md §6: large streaming state goes to RocksDB. Verify the
    # bundled provider runs a stateful query end-to-end with equal results.
    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=3)
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        _drain(
            _stream(spark, staging)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("window.start").alias("ws"), "cnt")
            .writeStream.format("memory")
            .queryName("rocksdb_counts")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
        )
        got = {r.ws: r.cnt for r in spark.table("rocksdb_counts").collect()}
        expect = {
            r.ws: r.cnt
            for r in table(spark, SF_SMOKE, "events")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("window.start").alias("ws"), "cnt")
            .collect()
        }
        assert got == expect
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# --- A12: sink module -----------------------------------------------------


def test_parquet_stream_writer_sink_roundtrip(spark, events_rows, tmp_path):
    # Full loop: events → envelope → foreachBatch sink → re-read envelope.
    from spark_kinesis_sql_asl_spark.sources.envelope import wrap_events
    from spark_kinesis_sql_asl_spark.sources.sink import parquet_stream_writer

    staging = str(tmp_path / "staging")
    sink_root = str(tmp_path / "sink")
    _stage(events_rows, staging, n_files=3)
    _drain(
        wrap_events(_stream(spark, staging))
        .writeStream.foreachBatch(parquet_stream_writer(sink_root))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    sunk = spark.read.parquet(f"{sink_root}/epoch=*")
    assert sunk.count() == len(events_rows)
    assert set(sunk.columns) >= {
        "data", "streamName", "partitionKey", "sequenceNumber",
        "approximateArrivalTimestamp",
    }
    # sequenceNumbers survive the loop exactly
    got = sorted(int(r.sequenceNumber) for r in sunk.collect())
    assert got == sorted(r.event_id for r in events_rows)


def test_boto3_sink_import_guard():
    # Constructing the real-Kinesis writer must never touch the network:
    # with boto3 present it returns the foreachBatch callable; without it,
    # a clear ImportError pointing at the offline twin.
    from spark_kinesis_sql_asl_spark.sources.sink import kinesis_put_records_writer

    try:
        import boto3  # noqa: F401

        writer = kinesis_put_records_writer("stream", region="us-east-1")
        assert callable(writer)
    except ImportError:
        with pytest.raises(ImportError, match="boto3"):
            kinesis_put_records_writer("stream")


# --- B4: CSV / JSON sinks roundtrip ---------------------------------------


def test_csv_and_json_sink_roundtrip(spark, tmp_path):
    # B4: the non-parquet batch sinks preserve values through a write+read.
    src = (
        table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .limit(500)
    )
    expect = sorted(tuple(r) for r in src.collect())

    csv_dir = str(tmp_path / "csv")
    src.write.mode("overwrite").option("header", "true").csv(csv_dir)
    got_csv = sorted(
        tuple(r)
        for r in spark.read.option("header", "true")
        .schema(src.schema)
        .csv(csv_dir)
        .collect()
    )
    assert got_csv == expect

    json_dir = str(tmp_path / "json")
    src.write.mode("overwrite").json(json_dir)
    got_json = sorted(
        tuple(r) for r in spark.read.schema(src.schema).json(json_dir).collect()
    )
    assert got_json == expect


# --- B63 (streaming mode): session windows end-to-end ---------------------


def test_streaming_session_window_equals_batch(spark, events_rows, tmp_path):
    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=3)

    def sessionize(src):
        return (
            src.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("session_window.start").alias("ss"),
                "user_id",
                "n_events",
            )
        )

    _drain(
        sessionize(_stream(spark, staging))
        .writeStream.format("memory")
        .queryName("stream_sessions")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = {
        (r.ss, r.user_id): r.n_events
        for r in spark.table("stream_sessions").collect()
    }
    batch = (
        table(spark, SF_SMOKE, "events")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("session_window.start").alias("ss"), "user_id", "n_events")
    )
    expect = {(r.ss, r.user_id): r.n_events for r in batch.collect()}
    assert got == expect


# --- B68 on RocksDB: the product operator under the off-heap provider ----


def test_stateful_running_count_on_rocksdb(spark, events_rows, tmp_path):
    # B68's product operator (streaming/stateful.py running_count) keeps
    # keyed arbitrary state through applyInPandasWithState. The state-store
    # provider is a session conf, independent of the operator API: under
    # RocksDBStateStoreProvider the per-key running counts must still equal
    # the batch groupBy count, and the provider conf is restored after.
    from spark_kinesis_sql_asl_spark.streaming.stateful import running_count

    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=3)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = _drain(
            running_count(_stream(spark, staging))
            .writeStream.format("memory")
            .queryName("rocksdb_running_counts")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert spark.conf.get(key, None) == prev
    state_metrics = [
        m
        for p in q.recentProgress
        for op in p["stateOperators"]
        for m in op.get("customMetrics", {})
    ]
    assert any(m.startswith("rocksdb") for m in state_metrics), state_metrics
    got = (
        spark.table("rocksdb_running_counts")
        .groupBy("user_id")
        .agg(F.max("running_n").alias("n"))  # running_n is monotonic
    )
    expect = {
        r.user_id: r.n
        for r in table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.user_id: r.n for r in got.collect()} == expect


# --- B65+ : dropDuplicatesWithinWatermark ---------------------------------


def test_drop_duplicates_within_watermark(spark, events_rows, tmp_path):
    # Inject exact duplicate events (each row staged twice) and dedup on
    # event_id with the watermark-scoped API: state for a key is dropped
    # once the watermark passes it, so state is bounded — the form that
    # survives an unbounded stream, unlike plain dropDuplicates whose
    # state grows forever.
    staging = str(tmp_path / "staging")
    doubled = list(events_rows) + list(events_rows)
    _stage(doubled, staging, n_files=4)

    out = (
        _stream(spark, staging)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    _drain(
        out.writeStream.format("memory")
        .queryName("ddww")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = spark.table("ddww").groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_ids"),
    ).collect()[0]
    n_src = len(events_rows)
    assert got.n_ids == n_src
    # every duplicate arriving within the watermark horizon is dropped:
    # with 4 arrival files over the same ts range, dup copies land well
    # inside the 1h horizon of their originals
    assert got.n == n_src


# --- Tier C on a stream: curation micro-pipeline ------------------------


def test_streaming_curation_equals_batch(spark, tmp_path):
    """The curation entry ops (content-hash exact dedup + quality gate +
    per-lang audit) run under Structured Streaming with identical results
    to the batch twin — documents replayed as micro-batch arrivals, exact
    dedup via streaming dropDuplicates on the content hash (the bounded
    form for production is dropDuplicatesWithinWatermark; documents carry
    no event time, so the test uses the unbounded variant over a finite
    replay), complete-mode aggregation."""
    docs = table(spark, SF_SMOKE, "documents").collect()
    staging = str(tmp_path / "docs_stream")
    os.makedirs(staging)
    per = (len(docs) + 3) // 4
    for i in range(4):
        sl = docs[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "doc_id": pa.array([r.doc_id for r in sl], pa.int64()),
                "text": pa.array([r.text for r in sl], pa.string()),
                "lang": pa.array([r.lang for r in sl], pa.string()),
                "source": pa.array([r.source for r in sl], pa.string()),
                "n_chars": pa.array([r.n_chars for r in sl], pa.int64()),
            }
        )
        f = os.path.join(staging, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    def curate(df):
        toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
        return (
            df.withColumn(
                "text_hash", F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary"))
            )
            .withColumn("n_tok", F.size(toks))
            .where(F.col("n_tok").between(10, 200))
            .dropDuplicates(["text_hash"])
        )

    sch = table(spark, SF_SMOKE, "documents").schema
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    q = (
        curate(stream)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_tok").alias("sum_tok"))
        .writeStream.format("memory")
        .queryName("curation_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    _drain(q)
    got = {
        r.lang: (r.n_kept, r.sum_tok)
        for r in spark.sql("SELECT * FROM curation_stream").collect()
    }
    want = {
        r.lang: (r.n_kept, r.sum_tok)
        for r in curate(table(spark, SF_SMOKE, "documents"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_tok").alias("sum_tok"))
        .collect()
    }
    assert got == want


def test_streaming_ingest_dedup_equals_batch(spark, tmp_path):
    """C46 on a stream: a freshly-arriving batch (replayed as micro-batch
    files) is screened against the STATIC corpus hash index with a
    stream-static left-anti join — the production shape for continuous
    ingest, where the corpus index is the slowly-changing side and every
    trigger probes only its own arrivals. The per-lang novelty counts must
    equal the batch C46 operator's n_novel column exactly."""
    batch_docs = (
        table(spark, SF_SMOKE, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .collect()
    )
    staging = str(tmp_path / "ingest_stream")
    os.makedirs(staging)
    per = (len(batch_docs) + 2) // 3
    for i in range(3):
        sl = batch_docs[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "doc_id": pa.array([r.doc_id for r in sl], pa.int64()),
                "text": pa.array([r.text for r in sl], pa.string()),
                "lang": pa.array([r.lang for r in sl], pa.string()),
                "source": pa.array([r.source for r in sl], pa.string()),
                "n_chars": pa.array([r.n_chars for r in sl], pa.int64()),
            }
        )
        f = os.path.join(staging, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    h = F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary"))
    corpus_index = (
        table(spark, SF_SMOKE, "documents")
        .where(F.col("doc_id") % 5 != 0)
        .select(h.alias("h"))
        .distinct()
    )
    sch = table(spark, SF_SMOKE, "documents").schema
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    novel = (
        stream.withColumn("h", h)
        .join(corpus_index, "h", "left_anti")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    q = (
        novel.writeStream.format("memory")
        .queryName("ingest_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_ingest"))
        .trigger(availableNow=True)
    )
    _drain(q)
    got = {
        r.lang: r.n_novel
        for r in spark.sql("SELECT * FROM ingest_stream").collect()
    }
    from spark_kinesis_sql_asl_spark.registry import all_queries

    want = {
        r.lang: r.n_novel
        for r in all_queries()["q_llm_ingest_dedup"](spark, SF_SMOKE).collect()
        if r.n_novel > 0
    }
    got = {k: v for k, v in got.items() if v > 0}
    assert got == want


def test_streaming_misra_gries_exact_when_m_covers_vocab(spark, tmp_path):
    """C37-stream: the stateful Misra-Gries summary folds micro-batches
    sequentially; with m >= the per-lang distinct-token count it must
    degenerate to EXACT document frequencies — pinned against the batch
    q_llm_heavy_hitters rollup. Each key's final summary is selected by
    its max seq from the update-mode sink."""
    from spark_kinesis_sql_asl_spark.streaming.stateful import (
        streaming_misra_gries,
    )

    docs = table(spark, SF_SMOKE, "documents").collect()
    staging = str(tmp_path / "mg_stream")
    os.makedirs(staging)
    per = (len(docs) + 3) // 4
    for i in range(4):
        sl = docs[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "doc_id": pa.array([r.doc_id for r in sl], pa.int64()),
                "text": pa.array([r.text for r in sl], pa.string()),
                "lang": pa.array([r.lang for r in sl], pa.string()),
                "source": pa.array([r.source for r in sl], pa.string()),
                "n_chars": pa.array([r.n_chars for r in sl], pa.int64()),
            }
        )
        f = os.path.join(staging, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    sch = table(spark, SF_SMOKE, "documents").schema
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
        .select("lang", "text")
    )
    mg = streaming_misra_gries(stream, m=100_000)  # >> vocab: exact regime
    q = (
        mg.writeStream.format("memory")
        .queryName("mg_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_mg"))
        .trigger(availableNow=True)
    )
    _drain(q)
    rows = spark.sql(
        """
        SELECT lang, tok, est FROM (
            SELECT lang, tok, est,
                   row_number() OVER (
                       PARTITION BY lang, tok ORDER BY seq DESC
                   ) AS rn,
                   max(seq) OVER (PARTITION BY lang) AS max_seq,
                   seq
            FROM mg_stream
        ) WHERE rn = 1 AND seq = max_seq
        """
    ).collect()
    got = {(r.lang, r.tok): r.est for r in rows}
    exact = {
        (r.lang, r.tok): r.doc_freq
        for r in table(spark, SF_SMOKE, "documents")
        .select(
            "lang",
            F.explode(
                F.array_distinct(
                    F.split(F.coalesce(F.col("text"), F.lit("")), " ")
                )
            ).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .collect()
    }
    assert got == exact


def test_streaming_quantile_octaves_exact_at_octave_granularity(spark, tmp_path):
    """C61s: the stateful quantile-octave histogram folds micro-batches
    sequentially; its reported p-quantile octave must equal the octave of
    the exact ceil(p*N)-th smallest value over the whole stream — pinned
    against a pure-Python exact computation on the same rows. Each key's
    final summary is its max-seq row in the update-mode sink."""
    from spark_kinesis_sql_asl_spark.streaming.stateful import (
        streaming_quantile_octaves,
    )

    ev = (
        table(spark, SF_SMOKE, "events")
        .select("event_type", "value")
        .collect()
    )
    staging = str(tmp_path / "qh_stream")
    os.makedirs(staging)
    per = (len(ev) + 3) // 4
    for i in range(4):
        sl = ev[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "event_type": pa.array([r.event_type for r in sl], pa.string()),
                "value": pa.array([r.value for r in sl], pa.float64()),
            }
        )
        f = os.path.join(staging, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    q = (
        streaming_quantile_octaves(stream)
        .writeStream.format("memory")
        .queryName("qh_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_qh"))
        .trigger(availableNow=True)
    )
    _drain(q)
    rows = spark.sql(
        """
        SELECT event_type, n, p50_oct, p90_oct, p99_oct FROM (
            SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY seq DESC
            ) AS rn
            FROM qh_stream
        ) WHERE rn = 1
        """
    ).collect()
    got = {
        r.event_type: (r.n, r.p50_oct, r.p90_oct, r.p99_oct) for r in rows
    }

    # Exact reference: octave of the ceil(p*N)-th smallest cents per type.
    import math
    from collections import defaultdict

    cents = defaultdict(list)
    for r in ev:
        if r.value is None or r.value != r.value:
            continue
        cents[r.event_type].append(int(math.floor(r.value * 100)))
    want = {}
    for t, vals in cents.items():
        vals.sort()
        octs = [max(v, 0).bit_length() if v >= 1 else 0 for v in vals]

        def kth(p):
            return octs[max(1, math.ceil(p * len(octs))) - 1]

        want[t] = (len(vals), kth(0.5), kth(0.9), kth(0.99))
    assert got == want


def test_jsonl_ingest_reads_gzip_drops(spark, tmp_path):
    """C60 companion: crawl drops arrive gzip-compressed; Spark's text/json
    codecs must decompress .json.gz transparently under the same explicit
    schema + PERMISSIVE posture (gzip is NOT splittable — at 100 TB the
    parallelism unit is the file, so drops are many ~100 MB gzip members,
    never one giant archive; this test pins the read path works at all)."""
    import gzip
    import json as _json

    docs = table(spark, SF_SMOKE, "documents").limit(50).collect()
    drop = tmp_path / "gz_drop"
    drop.mkdir()
    half = len(docs) // 2
    for i, sl in enumerate((docs[:half], docs[half:])):
        with gzip.open(drop / f"part-{i}.json.gz", "wt") as f:
            for r in sl:
                f.write(
                    _json.dumps(
                        {"doc_id": r.doc_id, "text": r.text, "lang": r.lang}
                    )
                    + "\n"
                )
    back = (
        spark.read.schema("doc_id bigint, text string, lang string")
        .option("mode", "PERMISSIVE")
        .json(str(drop))
    )
    got = {(r.doc_id, r.text, r.lang) for r in back.collect()}
    want = {(r.doc_id, r.text, r.lang) for r in docs}
    assert got == want


def test_streaming_quantile_octaves_state_survives_restart(spark, tmp_path):
    """C61s recovery: the keyed octave histogram must RESUME from
    checkpointed state after a stop/start — the restarted run's final
    summary must equal the single-run result over all data (state loss
    would undercount n; re-processing would overcount)."""
    from spark_kinesis_sql_asl_spark.streaming.stateful import (
        streaming_quantile_octaves,
    )

    ev = (
        table(spark, SF_SMOKE, "events")
        .select("event_type", "value")
        .collect()
    )
    staging = str(tmp_path / "qhr_stream")
    os.makedirs(staging)
    per = (len(ev) + 3) // 4

    def stage(i):
        sl = ev[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "event_type": pa.array([r.event_type for r in sl], pa.string()),
                "value": pa.array([r.value for r in sl], pa.float64()),
            }
        )
        f = os.path.join(staging, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    out = str(tmp_path / "qhr_out")

    def run():
        from spark_kinesis_sql_asl_spark.sources.sink import (
            parquet_stream_writer,
        )

        stream = (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(staging)
        )
        _drain(
            streaming_quantile_octaves(stream)
            .writeStream.foreachBatch(parquet_stream_writer(out))
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_qhr"))
            .trigger(availableNow=True)
        )

    stage(0)
    stage(1)
    run()  # first run consumes files 0-1, checkpoints keyed state
    stage(2)
    stage(3)
    run()  # restart: must fold files 2-3 into the RESTORED state

    sink = spark.read.option("recursiveFileLookup", "true").parquet(out)
    sink.createOrReplaceTempView("qhr_sink")
    rows = spark.sql(
        """
        SELECT event_type, n FROM (
            SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY seq DESC
            ) AS rn FROM qhr_sink
        ) WHERE rn = 1
        """
    ).collect()
    got = {r.event_type: r.n for r in rows}
    from collections import Counter

    want = Counter(
        r.event_type for r in ev if r.value is not None and r.value == r.value
    )
    assert got == dict(want)


def test_stream_stream_left_outer_join_emits_unmatched(spark, events_rows, tmp_path):
    """B67b: stream-stream LEFT OUTER time-interval join — the subtle
    half: unmatched left rows may only emit once the watermark passes
    their join window (earlier emission could be falsified by a late
    match). A far-future sentinel click in the final file pushes the
    watermark past all real data so every outer row flushes; the result
    must then equal the batch left join exactly."""
    import datetime as _dt

    staging = str(tmp_path / "staging")
    out = str(tmp_path / "out")
    _stage(events_rows, staging, n_files=3)

    # sentinel: one click far past the data, in its own last-arriving file
    max_ts = max(r.ts for r in events_rows)
    sent_ts = max_ts + _dt.timedelta(hours=10)
    tbl = pa.table(
        {
            "event_id": pa.array([10**12], pa.int64()),
            "ts": pa.array([sent_ts], pa.timestamp("us")),
            "user_id": pa.array([-1], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([0.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    f = os.path.join(staging, "9999.parquet")
    pq.write_table(tbl, f)
    os.utime(f, (1_700_009_999, 1_700_009_999))

    def sides(src):
        clicks = (
            src.where(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
                F.col("event_id").alias("c_id"),
            )
            .withWatermark("c_ts", "1 minute")
        )
        purchases = (
            src.where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("event_id").alias("p_id"),
            )
            .withWatermark("p_ts", "1 minute")
        )
        cond = (
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
        )
        return clicks.join(purchases, cond, "left_outer").select("c_id", "p_id")

    _drain(
        sides(_stream(spark, staging))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = {
        (r.c_id, r.p_id)
        for r in spark.read.parquet(out).collect()
        if r.c_id != 10**12  # drop the sentinel's own outer row
    }

    e = table(spark, SF_SMOKE, "events")
    bc = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    bp = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    expect = {
        (r.c_id, r.p_id)
        for r in bc.join(
            bp,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
            "left_outer",
        ).select("c_id", "p_id").collect()
    }
    assert got == expect
    assert any(p is None for _, p in got)  # outer rows actually emitted


def test_stream_static_ingest_dedup_matches_batch(spark, tmp_path):
    """C46-stream: the incremental-ingest dedup as a LIVE pipeline —
    streaming crawl batches probe a STATIC corpus hash index via a
    stream-static left join (the index broadcasts; at 100 TB it is the
    bucketed on-disk dedup index). Per-lang novel counts accumulated
    across all micro-batches must equal the batch q_llm_ingest_dedup
    rollup over the same carve."""
    from spark_kinesis_sql_asl_spark.registry import all_queries

    docs = table(spark, SF_SMOKE, "documents").collect()
    batch_rows = [r for r in docs if r.doc_id % 5 == 0]

    staging = str(tmp_path / "ingest_stream")
    os.makedirs(staging)
    per = (len(batch_rows) + 2) // 3
    for i in range(3):
        sl = batch_rows[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "doc_id": pa.array([r.doc_id for r in sl], pa.int64()),
                "text": pa.array([r.text for r in sl], pa.string()),
                "lang": pa.array([r.lang for r in sl], pa.string()),
            }
        )
        f = os.path.join(staging, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    corpus = (
        table(spark, SF_SMOKE, "documents")
        .where(F.col("doc_id") % 5 != 0)
        .select(
            F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
                "h"
            )
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
        .select(
            "lang",
            F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
                "h"
            ),
        )
    )
    screened = (
        stream.join(corpus, "h", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            (F.count(F.lit(1)) - F.count("hit")).alias("n_novel"),
        )
    )
    q = (
        screened.writeStream.format("memory")
        .queryName("ingest_screen")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_is"))
        .trigger(availableNow=True)
    )
    _drain(q)
    got = {
        (r.lang, r.n_batch, r.n_novel)
        for r in spark.sql("SELECT * FROM ingest_screen").collect()
    }
    want = {
        (r.lang, r.n_batch, r.n_novel)
        for r in all_queries()["q_llm_ingest_dedup"](spark, SF_SMOKE)
        .select("lang", "n_batch", "n_novel")
        .collect()
    }
    assert got == want


def test_dynamic_gap_session_window_matches_batch(spark, events_rows, tmp_path):
    """B63b: session_window with a DYNAMIC gap (per-event-type expression —
    purchases close sessions faster than clicks) must produce the same
    sessions streaming as in batch. This is the session variant Spark
    supports but fixed-gap tests never exercise: the gap column is
    evaluated per row, so state boundaries differ per event_type."""
    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=3)

    # session_window demands CalendarIntervalType for dynamic gaps —
    # INTERVAL literals parse as DayTimeIntervalType, so use the string
    # form the API documents for expression gaps.
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("5 minutes")
    ).otherwise(F.lit("30 minutes"))

    def sessions(src):
        return (
            src.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", gap), "user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("session_window.start").alias("ss"),
                "user_id",
                "event_type",
                "n",
            )
        )

    out = str(tmp_path / "out")
    _drain(
        sessions(_stream(spark, staging))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
    )
    got = {
        (r.ss, r.user_id, r.event_type, r.n)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.ss, r.user_id, r.event_type, r.n)
        for r in sessions(table(spark, SF_SMOKE, "events")).collect()
    }
    # availableNow emits only watermark-closed sessions; every emitted
    # session must match batch, and most sessions must have emitted.
    assert got <= batch
    assert len(got) >= 0.9 * len(batch)


# --- B110 streaming twin: tumbling-window OHLC ---------------------------


def test_streaming_ohlc_equals_batch(spark, events_rows, tmp_path):
    """B110's streaming twin: hourly OHLC as a watermarked tumbling-window
    aggregate. first/last-in-bucket ride min_by/max_by over the
    (ts, event_id) struct — a deterministic total order, the same rule the
    batch operator pins with first_value windows — so the availableNow
    replay must equal the batch rollup exactly."""
    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=3)

    def ohlc(src):
        f = src.where(F.col("ts").isNotNull() & F.col("value").isNotNull())
        cents = F.floor(F.col("value") * 100).cast("bigint")
        key = F.struct("ts", "event_id")
        return (
            f.select("event_type", "ts", "event_id", cents.alias("cents"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.min_by("cents", key).alias("open_cents"),
                F.max("cents").alias("high_cents"),
                F.min("cents").alias("low_cents"),
                F.max_by("cents", key).alias("close_cents"),
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").cast("bigint").alias("volume_cents"),
            )
            .select(
                F.col("window.start").alias("h"),
                "event_type",
                "open_cents",
                "high_cents",
                "low_cents",
                "close_cents",
                "n_events",
                "volume_cents",
            )
        )

    _drain(
        ohlc(_stream(spark, staging))
        .writeStream.format("memory")
        .queryName("stream_ohlc")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = {
        (r.h, r.event_type): tuple(r)[2:]
        for r in spark.table("stream_ohlc").collect()
    }
    expect = {
        (r.h, r.event_type): tuple(r)[2:]
        for r in ohlc(table(spark, SF_SMOKE, "events")).collect()
    }
    assert got == expect
    # and the struct-ordered min_by/max_by convention must agree with the
    # batch operator's first_value-window convention on the same buckets
    from spark_kinesis_sql_asl_spark.operators.timeseries import q_ts_ohlc

    batch = {
        (r.event_type, r.hour_epoch): (
            r.open_cents,
            r.high_cents,
            r.low_cents,
            r.close_cents,
            r.n_events,
            r.volume_cents,
        )
        for r in q_ts_ohlc(spark, SF_SMOKE).collect()
    }
    import datetime as dt

    stream_keyed = {
        (
            t,
            int(h.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
            // 3_600_000_000,
        ): v
        for (h, t), v in got.items()
    }
    assert stream_keyed == batch


# --- B117 streaming twin: bounded contribution ---------------------------


def test_streaming_bounded_contrib_equals_batch(spark, events_rows, tmp_path):
    """The online cap must produce the same (type, day) rollup as the
    batch earliest-rows cap: per-key counts saturate identically, and
    capped_n <= cap always."""
    from pyspark.sql.window import Window

    from spark_kinesis_sql_asl_spark.streaming.stateful import (
        streaming_bounded_contrib,
    )
    from spark_kinesis_sql_asl_spark.registry import all_queries

    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=3)

    src = (
        _stream(spark, staging)
        .where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
    )
    _drain(
        streaming_bounded_contrib(src, cap=3)
        .writeStream.format("memory")
        .queryName("stream_bc")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    # update mode re-emits keys per batch: keep the final (max-seq) row
    final = (
        spark.table("stream_bc")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "event_type", "day").orderBy(
                    F.col("seq").desc()
                )
            ),
        )
        .where(F.col("rn") == 1)
    )
    rows = final.collect()
    assert rows and all(r.capped_n <= 3 for r in rows)
    assert all(r.capped_n == min(3, r.total_n) for r in rows)
    got = {
        (r.event_type, r.day): r.n
        for r in final.groupBy("event_type", "day")
        .agg(F.sum("capped_n").alias("n"))
        .collect()
    }
    expect = {
        (r.event_type, r.day): r.capped_events
        for r in all_queries()["q_privacy_bounded_contrib"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == expect


# --- B111-B113 streaming twins (round-6: verdict r5 item 4) ---------------


def _dedup_last_by_seq(spark, qname, key_cols, val_cols):
    """Memory-sink update-mode streams append every emission; the final
    answer per key is the max-seq row (the established octave pattern)."""
    keys = ", ".join(key_cols)
    vals = ", ".join(val_cols)
    return {
        tuple(r[k] for k in key_cols): tuple(r[v] for v in val_cols)
        for r in spark.sql(
            f"""
            SELECT {keys}, {vals} FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY {keys} ORDER BY seq DESC
                ) AS rn FROM {qname}
            ) WHERE rn = 1
            """
        ).collect()
    }


def test_streaming_time_weighted_equals_batch(spark, events_rows, tmp_path):
    """B111's streaming twin: LOCF time-weighted average as O(1) keyed
    state. The final per-type emission must carry exactly the batch
    operator's (n_segments, total_us) and reproduce twa_cents to 1e-6."""
    from spark_kinesis_sql_asl_spark.operators.timeseries import (
        q_ts_time_weighted,
    )
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_time_weighted,
    )

    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=3)

    def prep(src):
        f = src.where(F.col("ts").isNotNull() & F.col("value").isNotNull())
        return f.select(
            "event_type",
            F.expr("unix_micros(ts)").alias("us"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
            "event_id",
        )

    _drain(
        streaming_time_weighted(prep(_stream(spark, staging)))
        .writeStream.format("memory")
        .queryName("stream_twa")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark,
        "stream_twa",
        ["event_type"],
        ["n_segments", "total_us", "sum_cw"],
    )
    expect = {
        r["event_type"]: r for r in q_ts_time_weighted(spark, SF_SMOKE).collect()
    }
    assert set(got) == {(k,) for k in expect}
    for (et,), (n_seg, total_us, sum_cw) in got.items():
        b = expect[et]
        assert n_seg == b["n_segments"], et
        assert total_us == b["total_us"], et
        twa = int(sum_cw) / total_us
        assert abs(twa - b["twa_cents"]) <= 1e-6, (et, twa, b["twa_cents"])


def test_streaming_forward_asof_equals_batch(spark, events_rows, tmp_path):
    """B112's streaming twin: pend-and-flush per-user state. After the
    availableNow replay, the last emission per click must equal the batch
    forward as-of row — including NULL for never-matched clicks."""
    from spark_kinesis_sql_asl_spark.operators.timeseries import (
        q_join_asof_forward,
    )
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_forward_asof,
    )

    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=3)

    def prep(src):
        f = src.where(F.col("event_type").isin("click", "purchase"))
        return f.select(
            "user_id",
            F.expr("unix_micros(ts)").alias("us"),
            "event_id",
            F.when(F.col("event_type") == "purchase", F.lit(1))
            .otherwise(0)
            .alias("is_p"),
        )

    _drain(
        streaming_forward_asof(prep(_stream(spark, staging)))
        .writeStream.format("memory")
        .queryName("stream_fasof")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark, "stream_fasof", ["event_id"], ["user_id", "us", "purchase_us"]
    )
    expect = {
        (r["event_id"],): (
            r["user_id"],
            int(r["ts"].replace(tzinfo=__import__("datetime").timezone.utc)
                .timestamp() * 1_000_000),
            None
            if r["next_purchase_ts"] is None
            else int(
                r["next_purchase_ts"]
                .replace(tzinfo=__import__("datetime").timezone.utc)
                .timestamp()
                * 1_000_000
            ),
        )
        for r in q_join_asof_forward(spark, SF_SMOKE).collect()
    }
    assert got == expect
    assert any(v[2] is not None for v in got.values())  # non-vacuous match
    assert any(v[2] is None for v in got.values())  # and a real NULL tail


def test_streaming_rolling_slope_equals_batch(spark, events_rows, tmp_path):
    """B113's streaming twin: 24-row ring-buffer OLS. Exact integer
    num/den per (event_type, event_id) must reproduce the batch slope to
    1e-9 after the identical float division."""
    from spark_kinesis_sql_asl_spark.operators.timeseries import (
        q_win_rolling_slope,
    )
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_rolling_slope,
    )

    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=3)

    def prep(src):
        f = src.where(F.col("ts").isNotNull() & F.col("value").isNotNull())
        return f.select(
            "event_type",
            F.expr("unix_micros(ts)").alias("us"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
            "event_id",
        )

    _drain(
        streaming_rolling_slope(prep(_stream(spark, staging)))
        .writeStream.format("memory")
        .queryName("stream_slope")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = {
        (r.event_type, r.event_id): (r.n, r.slope_num, r.slope_den)
        for r in spark.table("stream_slope").collect()
    }
    expect = {
        (r["event_type"], r["event_id"]): r
        for r in q_win_rolling_slope(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expect)
    for k, (n, num, den) in got.items():
        b = expect[k]
        assert n == b["n"], k
        if den == 0:
            assert b["slope"] is None, k
        else:
            assert abs(num / den - b["slope"]) <= 1e-6, (k, num / den, b["slope"])


# --- B131s: streaming CUSUM parity -------------------------------------------


def _stage_order_days(spark, out_dir: str, n_files: int):
    """Stage the pre-joined (n_name, day_us, cents) order stream the CUSUM
    twin consumes — nation already resolved, day already truncated, the
    same prepared-columns convention as the other twins' prep()."""
    rows = (
        table(spark, SF_SMOKE, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .join(
            table(spark, SF_SMOKE, "customer").select(
                "c_custkey", "c_nationkey"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            table(spark, SF_SMOKE, "nation").select(
                "n_nationkey", "n_name"
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.expr(
                "unix_micros(date_trunc('day', o_orderdate))"
            ).alias("day_us"),
            F.expr("CAST(round(100 * o_totalprice) AS BIGINT)").alias(
                "cents"
            ),
        )
        .collect()
    )
    rows.sort(key=lambda r: (r.day_us, r.n_name or ""))
    os.makedirs(out_dir, exist_ok=True)
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        sl = rows[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "n_name": pa.array([r.n_name for r in sl], pa.string()),
                "day_us": pa.array([r.day_us for r in sl], pa.int64()),
                "cents": pa.array([r.cents for r in sl], pa.int64()),
            }
        )
        f = os.path.join(out_dir, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def test_streaming_cusum_equals_batch(spark, tmp_path):
    """B131's streaming twin: the final per-nation emission must equal
    q_cusum_changepoint (n_days, mu, peak, first-attain day, alarm) —
    including nations whose peak is 0 (NULL alarm day)."""
    from spark_kinesis_sql_asl_spark.operators.timeseries import (
        q_cusum_changepoint,
    )
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_cusum,
    )

    staging = str(tmp_path / "staging")
    _stage_order_days(spark, staging, n_files=4)
    sch = "n_name string, day_us bigint, cents bigint"
    src = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    _drain(
        streaming_cusum(src)
        .writeStream.format("memory")
        .queryName("stream_cusum")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark,
        "stream_cusum",
        ["n_name"],
        ["n_days", "mu_cents", "max_cusum_cents", "alarm_day_us", "alarm"],
    )
    expect = {
        r["n_name"]: (
            r["n_days"],
            r["mu_cents"],
            r["max_cusum_cents"],
            None
            if r["alarm_day"] is None
            else int(r["alarm_day"].timestamp() * 1_000_000),
            r["alarm"],
        )
        for r in q_cusum_changepoint(spark, SF_SMOKE).collect()
    }
    assert {k[0] for k in got} == set(expect)
    for (name,), vals in got.items():
        assert vals == expect[name], (name, vals, expect[name])


# --- B137s: streaming burst-episode parity -----------------------------------


def test_streaming_burst_episodes_equals_batch(spark, events_rows, tmp_path):
    """B137's streaming twin: the max-seq batch's episode set per type must
    equal q_events_burst_episodes exactly (episodes merge as gaps fill, so
    the comparison takes the final SET per type, not per-episode rows)."""
    from spark_kinesis_sql_asl_spark.operators.events import (
        q_events_burst_episodes,
    )
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_burst_episodes,
    )

    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=4)

    def prep(src):
        return src.where(F.col("ts").isNotNull()).select(
            "event_type", F.expr("unix_micros(ts)").alias("us")
        )

    _drain(
        streaming_burst_episodes(prep(_stream(spark, staging)))
        .writeStream.format("memory")
        .queryName("stream_bursts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got_rows = spark.sql(
        """
        SELECT event_type, start_hour, end_hour, n_hours, peak_cnt,
               burst_events
        FROM (
            SELECT *, max(seq) OVER (PARTITION BY event_type) AS mx
            FROM stream_bursts
        ) WHERE seq = mx
        """
    ).collect()
    got = {
        (r["event_type"], r["start_hour"]): (
            r["end_hour"], r["n_hours"], r["peak_cnt"], r["burst_events"]
        )
        for r in got_rows
    }
    expect = {
        (r["event_type"], r["start_hour"]): (
            r["end_hour"], r["n_hours"], r["peak_cnt"], r["burst_events"]
        )
        for r in q_events_burst_episodes(spark, SF_SMOKE).collect()
    }
    assert got == expect


# --- B140s: running-distinct streaming twin (round 8) --------------------


def _running_distinct_fixture(spark):
    """The B140 input slice (cust % 50 == 0 orders x lineitem) as
    time-ordered (cust, part, odate_us, okey) rows, plus the batch
    operator's final per-customer ledger row as ground truth."""
    from spark_kinesis_sql_asl_spark.registry import all_queries

    li = (
        table(spark, SF_SMOKE, "orders")
        .where("o_orderdate IS NOT NULL AND o_custkey % 50 = 0")
        .join(
            table(spark, SF_SMOKE, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
            F.unix_micros("o_orderdate").alias("odate_us"),
            F.col("o_orderkey").alias("okey"),
        )
        .collect()
    )
    batch = all_queries()["q_win_running_distinct"](spark, SF_SMOKE).collect()
    final = {}
    for r in sorted(batch, key=lambda r: (r.cust, r.odate, r.okey)):
        final[r.cust] = r.distinct_parts_to_date
    return li, final


def _stage_lineitems(rows, out_dir: str, n_files: int, start_index: int = 0):
    """Slice rows into n_files arrival files named from start_index on —
    restart tests append NEW files (the file source tracks consumed paths
    by name; rewriting an already-consumed name silently drops rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rows = sorted(rows, key=lambda r: (r.odate_us, r.okey, r.part))
    per = (len(rows) + n_files - 1) // n_files
    for j in range(n_files):
        i = start_index + j
        sl = rows[j * per : (j + 1) * per]
        tbl = pa.table(
            {
                "cust": pa.array([r.cust for r in sl], pa.int64()),
                "part": pa.array([r.part for r in sl], pa.int64()),
                "odate_us": pa.array([r.odate_us for r in sl], pa.int64()),
                "okey": pa.array([r.okey for r in sl], pa.int64()),
            }
        )
        f = os.path.join(out_dir, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


_LI_SCHEMA = "cust bigint, part bigint, odate_us bigint, okey bigint"


def test_streaming_running_distinct_equals_batch(spark, tmp_path):
    """B140s parity: after draining the ordered replay, each customer's
    last-emitted distinct_parts_to_date equals the batch ledger's final
    row — dropDuplicates-as-first-occurrence-flag is exactly B140's
    row_number()=1 flag when arrivals follow (odate, okey) order."""
    from spark_kinesis_sql_asl_spark.sources.sink import parquet_stream_writer
    from spark_kinesis_sql_asl_spark.streaming.stateful import (
        streaming_running_distinct,
    )

    li, final = _running_distinct_fixture(spark)
    assert final, "batch slice is empty — fixture drift"
    staging = str(tmp_path / "rd_stream")
    _stage_lineitems(li, staging, n_files=4)
    out = str(tmp_path / "rd_out")
    stream = (
        spark.readStream.schema(_LI_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    _drain(
        streaming_running_distinct(stream)
        .writeStream.foreachBatch(parquet_stream_writer(out))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_rd"))
        .trigger(availableNow=True)
    )
    sink = spark.read.option("recursiveFileLookup", "true").parquet(out)
    sink.createOrReplaceTempView("rd_sink")
    got = {
        r.cust: r.distinct_parts_to_date
        for r in spark.sql(
            """
            SELECT cust, distinct_parts_to_date FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY cust ORDER BY seq DESC
                ) AS rn FROM rd_sink
            ) WHERE rn = 1
            """
        ).collect()
    }
    assert got == final


def test_streaming_running_distinct_state_survives_restart(spark, tmp_path):
    """B140s recovery: BOTH state stores (the dropDuplicates key set AND
    the keyed counter) must resume from the checkpoint — key-set loss
    would double-count re-seen parts after restart, counter loss would
    reset to zero."""
    from spark_kinesis_sql_asl_spark.sources.sink import parquet_stream_writer
    from spark_kinesis_sql_asl_spark.streaming.stateful import (
        streaming_running_distinct,
    )

    li, final = _running_distinct_fixture(spark)
    rows = sorted(li, key=lambda r: (r.odate_us, r.okey, r.part))
    staging = str(tmp_path / "rdr_stream")
    out = str(tmp_path / "rdr_out")

    def run():
        stream = (
            spark.readStream.schema(_LI_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(staging)
        )
        _drain(
            streaming_running_distinct(stream)
            .writeStream.foreachBatch(parquet_stream_writer(out))
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_rdr"))
            .trigger(availableNow=True)
        )

    # first half arrives (files 0-1), run, then the second half PLUS a
    # full repeat of the first half as NEW files (2-5), run again: the
    # restored dedup key set must suppress the repeats (loss would
    # overcount) and the restored counter must carry forward (loss would
    # undercount).
    half = len(rows) // 2
    _stage_lineitems(rows[:half], staging, n_files=2)
    run()
    _stage_lineitems(rows[half:] + rows[:half], staging, n_files=4,
                     start_index=2)
    run()
    sink = spark.read.option("recursiveFileLookup", "true").parquet(out)
    sink.createOrReplaceTempView("rdr_sink")
    got = {
        r.cust: r.distinct_parts_to_date
        for r in spark.sql(
            """
            SELECT cust, distinct_parts_to_date FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY cust ORDER BY seq DESC
                ) AS rn FROM rdr_sink
            ) WHERE rn = 1
            """
        ).collect()
    }
    assert got == final


# --- C126s: streaming near-dup ingest screen (round 8) -------------------


def test_streaming_neardup_flags_equal_batch(spark, tmp_path):
    """C126 on a stream: arrivals screened against the STATIC corpus band
    index through stream-static joins; the flagged near-dup doc set after
    draining must equal the batch probe's flags exactly (same signatures
    — per-row array_min/transform vs batch explode+groupBy — same band
    geometry, same >=8/16 verify)."""
    from spark_kinesis_sql_asl_spark.llm.ingest import (
        _BATCH_MOD,
        ingest_neardup_flags,
    )
    from spark_kinesis_sql_asl_spark.streaming.ingest import (
        corpus_neardup_index,
        streaming_neardup_flags,
    )

    docs = table(spark, SF_SMOKE, "documents")
    batch_docs = docs.where(F.col("doc_id") % _BATCH_MOD == 0).collect()
    staging = str(tmp_path / "nd_stream")
    os.makedirs(staging)
    per = (len(batch_docs) + 2) // 3
    for i in range(3):
        sl = batch_docs[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "doc_id": pa.array([r.doc_id for r in sl], pa.int64()),
                "text": pa.array([r.text for r in sl], pa.string()),
                "lang": pa.array([r.lang for r in sl], pa.string()),
            }
        )
        f = os.path.join(staging, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    corpus = docs.where(F.col("doc_id") % _BATCH_MOD != 0).select(
        "doc_id", "text"
    )
    index = corpus_neardup_index(corpus)
    stream = (
        spark.readStream.schema("doc_id bigint, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    near, exact = streaming_neardup_flags(stream, index)
    for name, frame in (("nd_near", near), ("nd_exact", exact)):
        _drain(
            frame.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
        )
    got_near = {r.doc_id for r in spark.sql("SELECT * FROM nd_near").collect()}
    got_exact = {r.doc_id for r in spark.sql("SELECT * FROM nd_exact").collect()}
    want = ingest_neardup_flags(spark, SF_SMOKE).collect()
    # batch is_near excludes exact dups; the stream near-side flags them
    # regardless, so compare against (is_near OR is_exact) for near and
    # is_exact for exact (empty on this fixture — no raw exact dups).
    want_nearish = {r.doc_id for r in want if r.is_near == 1 or r.is_exact == 1}
    want_exact = {r.doc_id for r in want if r.is_exact == 1}
    assert got_near == want_nearish
    assert got_exact == want_exact


def test_streaming_count_min_matches_batch_matrix(spark, tmp_path):
    """C137s: the stateful count-min matrix folds micro-batches by pure
    addition, so after draining the corpus it must equal the batch
    q_llm_cms_heavy counter matrix cell-for-cell (same md5-chunk row
    hashes, same mod-1024 buckets) — hence every point query agrees.
    Final state is each cell's max-seq row in the update-mode sink."""
    from spark_kinesis_sql_asl_spark.streaming.stateful import (
        streaming_count_min,
    )

    docs = table(spark, SF_SMOKE, "documents").collect()
    staging = str(tmp_path / "cms_stream")
    os.makedirs(staging)
    per = (len(docs) + 3) // 4
    for i in range(4):
        sl = docs[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "doc_id": pa.array([r.doc_id for r in sl], pa.int64()),
                "text": pa.array([r.text for r in sl], pa.string()),
                "lang": pa.array([r.lang for r in sl], pa.string()),
                "source": pa.array([r.source for r in sl], pa.string()),
                "n_chars": pa.array([r.n_chars for r in sl], pa.int64()),
            }
        )
        f = os.path.join(staging, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    sch = table(spark, SF_SMOKE, "documents").schema
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
        .select(F.lit("all").alias("fold_key"), "text")
    )
    cms = streaming_count_min(stream)
    q = (
        cms.writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_cms"))
        .trigger(availableNow=True)
    )
    _drain(q)
    rows = spark.sql(
        """
        SELECT row_id, bucket, cnt FROM (
            SELECT row_id, bucket, cnt,
                   row_number() OVER (
                       PARTITION BY row_id, bucket ORDER BY seq DESC
                   ) AS rn,
                   max(seq) OVER () AS max_seq, seq
            FROM cms_stream
        ) WHERE rn = 1 AND seq = max_seq
        """
    ).collect()
    got = {(r.row_id, r.bucket): r.cnt for r in rows}

    # Batch twin of the counter matrix (the q_llm_cms_heavy `counters`
    # stage): exact term frequencies bucketed by the same md5 chunks.
    import hashlib

    want: dict = {}
    for r in docs:
        if r.text is None:
            continue
        for tok in r.text.split(" "):
            if not tok:
                continue
            hx = hashlib.md5(tok.encode("utf-8")).hexdigest()
            for j in range(4):
                key = (j, int(hx[8 * j : 8 * j + 8], 16) % 1024)
                want[key] = want.get(key, 0) + 1
    assert got == want


def test_streaming_cell_density_equals_batch(spark, tmp_path):
    """B163s: the streaming per-cell density aggregate, drained over the
    staged customer fixture, must equal the batch B163 cell rollup
    cell-for-cell (same portable coordinate expressions, same cell ids,
    same floor-cents mass). State = one counter row per cell — bounded
    by the 8x8 grid geometry, not stream length."""
    from spark_kinesis_sql_asl_spark.streaming.geo import (
        streaming_cell_density,
    )

    cust = table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    rows = cust.collect()
    staging = str(tmp_path / "geo_stream")
    os.makedirs(staging)
    per = (len(rows) + 2) // 3
    for i in range(3):
        sl = rows[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "c_custkey": pa.array([r.c_custkey for r in sl], pa.int64()),
                "c_nationkey": pa.array(
                    [r.c_nationkey for r in sl], pa.int64()
                ),
                "c_acctbal": pa.array([r.c_acctbal for r in sl], pa.float64()),
            }
        )
        f = os.path.join(staging, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(
            "c_custkey bigint, c_nationkey bigint, c_acctbal double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    _drain(
        streaming_cell_density(stream)
        .writeStream.format("memory")
        .queryName("geo_cells")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_geo"))
        .trigger(availableNow=True)
    )
    got = {
        (r.cell_lat, r.cell_lon): (r.n_points, r.bal_cents)
        for r in spark.sql("SELECT * FROM geo_cells").collect()
    }
    from spark_kinesis_sql_asl_spark.operators.geo import _DCELL, _with_coords

    batch = (
        _with_coords(cust, "c", "c_custkey")
        .select(
            F.expr(f"slat div {_DCELL}").alias("cell_lat"),
            F.expr(f"slon div {_DCELL}").alias("cell_lon"),
            F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("cell_lat", "cell_lon")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum("cents").cast("bigint").alias("bal_cents"),
        )
        .collect()
    )
    want = {
        (r.cell_lat, r.cell_lon): (r.n_points, r.bal_cents) for r in batch
    }
    assert got == want


# --- B180s: streaming drawdown parity -----------------------------------------


def _stage_global_order_days(spark, out_dir: str, n_files: int):
    """Stage the (day_us, cents) global order stream the drawdown /
    rolling-corr twins consume — day truncated, revenue floor-cents, the
    same prepared-columns convention as the CUSUM twin's staging."""
    rows = (
        table(spark, SF_SMOKE, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .select(
            F.expr(
                "unix_micros(date_trunc('day', o_orderdate))"
            ).alias("day_us"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias(
                "cents"
            ),
        )
        .collect()
    )
    rows.sort(key=lambda r: r.day_us)
    os.makedirs(out_dir, exist_ok=True)
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        sl = rows[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "day_us": pa.array([r.day_us for r in sl], pa.int64()),
                "cents": pa.array([r.cents for r in sl], pa.int64()),
            }
        )
        f = os.path.join(out_dir, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def test_streaming_drawdown_equals_batch(spark, tmp_path):
    """B180's streaming twin: the final top-10 (epoch_day, drawdown_cents,
    rnk) must equal q_win_drawdown exactly — pure BIGINT walk, truncating
    release division, (depth desc, day) order."""
    from spark_kinesis_sql_asl_spark.operators.timeseries import (
        q_win_drawdown,
    )
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_drawdown,
    )

    staging = str(tmp_path / "staging")
    _stage_global_order_days(spark, staging, n_files=4)
    sch = "day_us bigint, cents bigint"
    src = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    _drain(
        streaming_drawdown(src)
        .writeStream.format("memory")
        .queryName("stream_drawdown")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark,
        "stream_drawdown",
        ["grp", "rnk"],
        ["epoch_day", "drawdown_cents"],
    )
    expect = {
        ("all", r["rnk"]): (r["epoch_day"], r["drawdown_cents"])
        for r in q_win_drawdown(spark, SF_SMOKE).collect()
    }
    assert got == expect


# --- B186s: streaming rolling-correlation parity -------------------------------


def test_streaming_rolling_corr_equals_batch(spark, tmp_path):
    """B186's streaming twin: final per-day exact Pearson components must
    reproduce the batch roll_corr to 1e-6 after the identical float
    division (and agree exactly on the five integer columns)."""
    from spark_kinesis_sql_asl_spark.operators.windows import (
        q_win_rolling_corr,
    )
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_rolling_corr,
    )

    staging = str(tmp_path / "staging")
    _stage_global_order_days(spark, staging, n_files=4)
    sch = "day_us bigint, cents bigint"
    src = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    _drain(
        streaming_rolling_corr(src)
        .writeStream.format("memory")
        .queryName("stream_rollcorr")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark,
        "stream_rollcorr",
        ["grp", "epoch_day"],
        ["kcents", "n_orders", "n_in_frame", "corr_num", "corr_den_x",
         "corr_den_y"],
    )
    expect = {
        r["epoch_day"]: r for r in q_win_rolling_corr(spark, SF_SMOKE).collect()
    }
    assert {d for _, d in got} == set(expect)
    import math as _math

    for (_, d), (kc, ny, nf, num, dx, dy) in got.items():
        b = expect[d]
        assert (kc, ny, nf) == (b["kcents"], b["n_orders"], b["n_in_frame"]), d
        if dx == 0 or dy == 0:
            assert b["roll_corr"] is None, d
        else:
            r_stream = num / (_math.sqrt(dx) * _math.sqrt(dy))
            assert abs(r_stream - b["roll_corr"]) <= 1e-6, (
                d, r_stream, b["roll_corr"],
            )


# --- B190s: streaming seasonal-decomposition parity -----------------------------


def test_streaming_seasonal_forecast_equals_batch(spark, tmp_path):
    """B190's streaming twin: final per-dow exact integer components must
    reproduce the batch decomposition — integer columns exactly, the
    three float releases to 1e-6 via the identical arithmetic."""
    from spark_kinesis_sql_asl_spark.operators.timeseries import (
        q_ts_seasonal_forecast,
    )
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_seasonal_forecast,
    )

    staging = str(tmp_path / "staging")
    _stage_global_order_days(spark, staging, n_files=4)
    sch = "day_us bigint, cents bigint"
    src = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    _drain(
        streaming_seasonal_forecast(src)
        .writeStream.format("memory")
        .queryName("stream_seasonal")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark,
        "stream_seasonal",
        ["grp", "dow"],
        ["nd", "sd", "ng", "sg", "td", "tc", "dow_cents"],
    )
    expect = {
        r["dow"]: r for r in q_ts_seasonal_forecast(spark, SF_SMOKE).collect()
    }
    assert {d for _, d in got} == set(expect)
    for (_, dow), (nd, sd, ng, sg, td, tc, dow_cents) in got.items():
        b = expect[dow]
        assert nd == b["n_days"], dow
        assert (1_000_000 * dow_cents) // tc == b["revenue_ppm"], dow
        mean_detr = sd / (7.0 * nd)
        seasonal = mean_detr - sg / (7.0 * ng)
        forecast = tc / td + seasonal
        assert abs(mean_detr - b["mean_detr_cents"]) <= 1e-2 + 1e-6, dow
        assert abs(seasonal - b["seasonal_cents"]) <= 1e-2 + 1e-6, dow
        assert abs(forecast - b["forecast_cents"]) <= 1e-2 + 1e-6, dow


# --- B194s: streaming Bollinger parity ------------------------------------------


def test_streaming_bollinger_equals_batch(spark, tmp_path):
    """B194's streaming twin: final per-day exact frame sums must
    reproduce the batch breakout set — the identical z expression over
    the streamed (n, sx, sxx) followed by the compare-rounded-z filter
    yields exactly q_win_bollinger's rows, z to 1e-6."""
    from spark_kinesis_sql_asl_spark.operators.windows import (
        _BOLL_FRAME,
        _BOLL_K,
        q_win_bollinger,
    )
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_bollinger,
    )

    staging = str(tmp_path / "staging")
    _stage_global_order_days(spark, staging, n_files=4)
    sch = "day_us bigint, cents bigint"
    src = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    _drain(
        streaming_bollinger(src)
        .writeStream.format("memory")
        .queryName("stream_bollinger")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark,
        "stream_bollinger",
        ["grp", "epoch_day"],
        ["kcents", "n", "sx", "sxx"],
    )
    import math as _math

    flagged = {}
    for (_, d), (kc, n, sx, sxx) in got.items():
        assert n == _BOLL_FRAME, d
        var = (n * sxx - sx * sx) / (n * (n - 1.0))
        if var == 0.0:
            continue
        z = round((n * kc - sx) / n / _math.sqrt(var), 6)
        if z >= _BOLL_K or z <= -_BOLL_K:
            flagged[d] = (kc, z, "high" if z >= _BOLL_K else "low")
    expect = {
        r["epoch_day"]: (r["kcents"], r["z"], r["side"])
        for r in q_win_bollinger(spark, SF_SMOKE).collect()
    }
    assert set(flagged) == set(expect)
    for d, (kc, z, side) in flagged.items():
        bkc, bz, bside = expect[d]
        assert kc == bkc and side == bside, d
        assert abs(z - bz) <= 1e-6, (d, z, bz)


# --- B203s: streaming Holt parity -----------------------------------------------


def test_streaming_holt_equals_batch(spark, tmp_path):
    """B203's streaming twin: the final (h, level, trend, forecast)
    emission must equal q_ts_holt_linear exactly — same integer lattice,
    division-free compare (mae is compared via e div (n−1), the batch
    release expression)."""
    from spark_kinesis_sql_asl_spark.operators.timeseries import (
        q_ts_holt_linear,
    )
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_holt_linear,
    )

    staging = str(tmp_path / "staging")
    _stage_global_order_days(spark, staging, n_files=4)
    sch = "day_us bigint, cents bigint"
    src = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    _drain(
        streaming_holt_linear(src)
        .writeStream.format("memory")
        .queryName("stream_holt")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark,
        "stream_holt",
        ["grp", "h"],
        ["level_milli", "trend_milli", "forecast_milli", "e", "n"],
    )
    expect = {
        r["h"]: r for r in q_ts_holt_linear(spark, SF_SMOKE).collect()
    }
    assert {h for _, h in got} == set(expect)
    for (_, h), (l, b, f, e, n) in got.items():
        bt = expect[h]
        assert (l, b, f) == (
            bt["level_milli"], bt["trend_milli"], bt["forecast_milli"]
        ), h
        assert e // (n - 1) == bt["mae_milli"], h


# --- B202s: streaming Little's law parity ----------------------------------------


def test_streaming_littles_law_equals_batch(spark, tmp_path):
    """B202's streaming twin: the final monthly integer ledger must equal
    q_orders_littles_law exactly (the derived floor-div columns follow
    from the same integers on both sides)."""
    from spark_kinesis_sql_asl_spark.operators.timeseries import (
        q_orders_littles_law,
    )
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_littles_law,
    )
    from spark_kinesis_sql_asl_spark.tables import table as _t

    spans = (
        _t(spark, SF_SMOKE, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .join(
            _t(spark, SF_SMOKE, "lineitem").where(
                F.col("l_shipdate").isNotNull()
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("s_day"),
            F.datediff(
                F.col("first_ship").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("e_day"),
        )
        .collect()
    )
    rows = sorted((r.s_day, r.e_day) for r in spans)
    staging = str(tmp_path / "staging")
    os.makedirs(staging, exist_ok=True)
    n_files = 4
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        sl = rows[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "s_day": pa.array([s for s, _ in sl], pa.int64()),
                "e_day": pa.array([e for _, e in sl], pa.int64()),
            }
        )
        f = os.path.join(staging, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    src = (
        spark.readStream.schema("s_day bigint, e_day bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    _drain(
        streaming_littles_law(src)
        .writeStream.format("memory")
        .queryName("stream_littles")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark,
        "stream_littles",
        ["grp", "mon_idx"],
        ["n_days", "area", "n_arrivals", "sum_dur_days"],
    )
    expect = {
        r["mon_idx"]: r
        for r in q_orders_littles_law(spark, SF_SMOKE).collect()
    }
    assert {m for _, m in got} == set(expect)
    for (_, m), (nd, area, na, sd) in got.items():
        b = expect[m]
        assert (nd, area, na, sd) == (
            b["n_days"], b["area"], b["n_arrivals"], b["sum_dur_days"]
        ), m


# --- A16s: streaming hot-key monitor parity ---------------------------------------


def test_streaming_hotkey_monitor_equals_batch(spark, tmp_path):
    """A16's streaming twin: with m >= the per-shard distinct-key count
    the Misra-Gries summary is exact, so each shard's final emission
    must carry the batch audit's (top_key, top_cnt) and exact record
    count."""
    from spark_kinesis_sql_asl_spark.sources.kinesis_queries import (
        q_kinesis_hotkey_audit,
    )
    from spark_kinesis_sql_asl_spark.streaming.stateful import (
        streaming_hotkey_monitor,
    )
    from spark_kinesis_sql_asl_spark.tables import table as _t

    rows = (
        _t(spark, SF_SMOKE, "events")
        .select(
            (
                (
                    F.instr(
                        F.lit("0123456789abcdef"),
                        F.substring(
                            F.md5(
                                F.encode(
                                    F.col("user_id").cast("string"), "UTF-8"
                                )
                            ),
                            32,
                            1,
                        ),
                    )
                    - 1
                )
                % 16
            )
            .cast("bigint")
            .alias("shard"),
            "user_id",
            "event_id",
        )
        .collect()
    )
    # distinct keys per shard must fit in the sketch for exactness
    per_shard: dict[int, set] = {}
    for r in rows:
        per_shard.setdefault(r.shard, set()).add(r.user_id)
    assert max(len(v) for v in per_shard.values()) <= 64, "fixture outgrew m"
    rows.sort(key=lambda r: r.event_id)  # deterministic arrival order
    staging = str(tmp_path / "staging")
    os.makedirs(staging, exist_ok=True)
    n_files = 4
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        sl = rows[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "shard": pa.array([r.shard for r in sl], pa.int64()),
                "user_id": pa.array([r.user_id for r in sl], pa.int64()),
            }
        )
        f = os.path.join(staging, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    src = (
        spark.readStream.schema("shard bigint, user_id bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    _drain(
        streaming_hotkey_monitor(src)
        .writeStream.format("memory")
        .queryName("stream_hotkey")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark,
        "stream_hotkey",
        ["shard"],
        ["n_records", "top_key", "top_cnt_lb"],
    )
    expect = {
        r["shard"]: r for r in q_kinesis_hotkey_audit(spark, SF_SMOKE).collect()
    }
    assert {s for (s,) in got} == set(expect)
    for (s,), (n, tk, tc) in got.items():
        b = expect[s]
        assert (n, tk, tc) == (b["n_records"], b["top_key"], b["top_cnt"]), s


# --- round 12: streaming-twin bench harness (VERDICT r11 item #6) ---------


def test_bench_twins_registry_is_complete_and_runnable(spark, tmp_path):
    """The bench's streaming block must cover every parity-pinned stateful
    twin that can run in this container (>=18), every entry must name a
    real stager, and the harness itself must drain end-to-end — exercised
    on a two-twin subset at smoke scale so the full sweep stays a bench
    concern, not a test-suite cost."""
    from unittest import mock

    from spark_kinesis_sql_asl_spark.streaming import bench_twins

    assert len(bench_twins.TWINS) >= 19
    for name, (key, build) in bench_twins.TWINS.items():
        assert key in bench_twins._STAGERS, (name, key)
        assert callable(build)

    subset = {
        "s_hotkey_monitor": bench_twins.TWINS["s_hotkey_monitor"],
        "s_drawdown": bench_twins.TWINS["s_drawdown"],
    }
    with mock.patch.object(bench_twins, "TWINS", subset):
        t = bench_twins.run_streaming_bench(
            spark, SF_SMOKE, str(tmp_path / "twins")
        )
    assert set(t) == {
        "_stage_hotkey",
        "_stage_order_days",
        "s_hotkey_monitor",
        "s_drawdown",
    }
    assert all(v >= 0 for v in t.values())


# --- A15s: streaming consumer-lag monitor parity (round 12) ----------------


def test_streaming_lag_monitor_equals_batch(spark, tmp_path):
    """A15's streaming twin: with per-shard arrivals in (ts, event_id)
    order and the ring covering the checkpoint tail, each shard's final
    emission + the central rollup must reproduce the batch lag audit's
    integer columns EXACTLY, and both CloudWatch-analog alarms must equal
    the same thresholds applied to the batch values."""
    from spark_kinesis_sql_asl_spark.sources.kinesis_queries import (
        q_kinesis_lag_audit,
    )
    from spark_kinesis_sql_asl_spark.streaming.stateful import (
        lag_monitor_rollup,
        streaming_lag_monitor,
    )
    from spark_kinesis_sql_asl_spark.tables import table as _t

    rows = (
        _t(spark, SF_SMOKE, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            (
                (
                    F.instr(
                        F.lit("0123456789abcdef"),
                        F.substring(
                            F.md5(
                                F.encode(
                                    F.col("user_id").cast("string"), "UTF-8"
                                )
                            ),
                            32,
                            1,
                        ),
                    )
                    - 1
                )
                % 16
            )
            .cast("bigint")
            .alias("shard"),
            F.unix_micros("ts").alias("us"),
            "event_id",
        )
        .collect()
    )
    rows.sort(key=lambda r: (r.us, r.event_id))  # the replay order
    staging = str(tmp_path / "staging")
    os.makedirs(staging, exist_ok=True)
    n_files = 4
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        sl = rows[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "shard": pa.array([r.shard for r in sl], pa.int64()),
                "us": pa.array([r.us for r in sl], pa.int64()),
                "event_id": pa.array([r.event_id for r in sl], pa.int64()),
            }
        )
        f = os.path.join(staging, f"{i:04d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    src = (
        spark.readStream.schema("shard bigint, us bigint, event_id bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    alarm_ms = 60_000
    _drain(
        streaming_lag_monitor(src, iterator_age_alarm_ms=alarm_ms)
        .writeStream.format("memory")
        .queryName("stream_lag")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = {
        r.shard: r
        for r in lag_monitor_rollup(
            spark.table("stream_lag"), behind_latest_alarm_ms=alarm_ms
        ).collect()
    }
    expect = {r.shard: r for r in q_kinesis_lag_audit(spark, SF_SMOKE).collect()}
    assert set(got) == set(expect)
    for shard, e in expect.items():
        g = got[shard]
        assert g.n_records == e.n_records, shard
        assert g.ckpt_us == e.ckpt_us, shard
        assert g.records_behind == e.records_behind, shard
        assert g.millis_behind_tip == e.millis_behind_tip, shard
        assert g.millis_behind_latest == e.millis_behind_latest, shard
        assert g.alarm_iterator_age == (
            1 if e.millis_behind_tip >= alarm_ms else 0
        ), shard
        assert g.alarm_behind_latest == (
            1 if e.millis_behind_latest >= alarm_ms else 0
        ), shard
    # non-vacuous: the fixture must exercise BOTH alarm states somewhere
    assert any(g.alarm_iterator_age == 1 for g in got.values())


# --- B212s: streaming RSI parity --------------------------------------------------


def _stage_prio_order_days(spark, out_dir: str, n_files: int):
    """Stage the (grp, day_us, cents) per-priority order stream the RSI
    twin consumes — the B212 batch query's exact input lattice."""
    rows = (
        table(spark, SF_SMOKE, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.expr("unix_micros(date_trunc('day', o_orderdate))").alias(
                "day_us"
            ),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias(
                "cents"
            ),
        )
        .collect()
    )
    rows.sort(key=lambda r: (r.grp, r.day_us))
    os.makedirs(out_dir, exist_ok=True)
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        sl = rows[i * per : (i + 1) * per]
        tbl = pa.table(
            {
                "grp": pa.array([r.grp for r in sl], pa.string()),
                "day_us": pa.array([r.day_us for r in sl], pa.int64()),
                "cents": pa.array([r.cents for r in sl], pa.int64()),
            }
        )
        pq.write_table(tbl, os.path.join(out_dir, f"part-{i:02d}.parquet"))


def test_streaming_rsi_equals_batch(spark, tmp_path):
    """B212's streaming twin: the final per-priority emission must equal
    q_ts_rsi exactly — same integer lattice, rsi_ppm itself an exact
    integer (or NULL on a flat series), so the compare is division-free
    equality on every column."""
    from spark_kinesis_sql_asl_spark.operators.timeseries import q_ts_rsi
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_rsi,
    )

    staging = str(tmp_path / "staging")
    _stage_prio_order_days(spark, staging, n_files=4)
    sch = "grp string, day_us bigint, cents bigint"
    src = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    _drain(
        streaming_rsi(src)
        .writeStream.format("memory")
        .queryName("stream_rsi")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark,
        "stream_rsi",
        ["grp"],
        [
            "n_days",
            "n_up",
            "n_down",
            "avg_gain_milli",
            "avg_loss_milli",
            "rsi_ppm",
        ],
    )
    expect = {r["grp"]: r for r in q_ts_rsi(spark, SF_SMOKE).collect()}
    assert {g for (g,) in got} == set(expect)
    for (g,), vals in got.items():
        bt = expect[g]
        assert vals == (
            bt["n_days"],
            bt["n_up"],
            bt["n_down"],
            bt["avg_gain_milli"],
            bt["avg_loss_milli"],
            bt["rsi_ppm"],
        ), g


def test_streaming_macd_equals_batch(spark, tmp_path):
    """B213's streaming twin: the final per-priority emission must equal
    q_ts_macd exactly — same integer cents lattice, so the compare is
    division-free equality on every column (first_cross_d NULL-safe)."""
    from spark_kinesis_sql_asl_spark.operators.timeseries import q_ts_macd
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_macd,
    )

    staging = str(tmp_path / "staging")
    _stage_prio_order_days(spark, staging, n_files=4)
    sch = "grp string, day_us bigint, cents bigint"
    src = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    _drain(
        streaming_macd(src)
        .writeStream.format("memory")
        .queryName("stream_macd")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark,
        "stream_macd",
        ["grp"],
        [
            "n_days",
            "macd_cents",
            "signal_cents",
            "hist_cents",
            "n_cross_up",
            "n_cross_down",
            "first_cross_d",
        ],
    )
    expect = {r["grp"]: r for r in q_ts_macd(spark, SF_SMOKE).collect()}
    assert {g for (g,) in got} == set(expect)
    for (g,), vals in got.items():
        bt = expect[g]
        assert vals == (
            bt["n_days"],
            bt["macd_cents"],
            bt["signal_cents"],
            bt["hist_cents"],
            bt["n_cross_up"],
            bt["n_cross_down"],
            bt["first_cross_d"],
        ), g


def test_streaming_atr_equals_batch(spark, events_rows, tmp_path):
    """B214's streaming twin: the final per-type emission must equal
    q_ts_atr exactly — same milli-cent lattice, division-free equality
    on every column. Staged with a LATE arrival (reorder_late): a late
    event can rewrite a past bar's high/low AND displace its elected
    close, which is exactly the state the twin keeps to stay honest."""
    from spark_kinesis_sql_asl_spark.operators.timeseries import q_ts_atr
    from spark_kinesis_sql_asl_spark.streaming.timeseries import (
        streaming_atr,
    )

    staging = str(tmp_path / "staging")
    _stage(events_rows, staging, n_files=4, reorder_late=True)

    def prep(src):
        f = src.where(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
        )
        return f.select(
            F.col("event_type").alias("grp"),
            F.expr("unix_micros(ts)").alias("ts_us"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
            "event_id",
        )

    _drain(
        streaming_atr(prep(_stream(spark, staging)))
        .writeStream.format("memory")
        .queryName("stream_atr")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
    )
    got = _dedup_last_by_seq(
        spark,
        "stream_atr",
        ["grp"],
        [
            "n_days",
            "close_cents",
            "max_tr_cents",
            "atr_milli",
            "natr_ppm",
        ],
    )
    expect = {r["grp"]: r for r in q_ts_atr(spark, SF_SMOKE).collect()}
    assert {g for (g,) in got} == set(expect)
    for (g,), vals in got.items():
        bt = expect[g]
        assert vals == (
            bt["n_days"],
            bt["close_cents"],
            bt["max_tr_cents"],
            bt["atr_milli"],
            bt["natr_ppm"],
        ), g
