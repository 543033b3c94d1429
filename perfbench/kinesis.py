"""The ``kinesis`` workload: the ``kinesislike`` source used both ways.

A run does whole rounds. A round is

* a live phase: one long-running query over a stream that starts empty,
  writing the per-key aggregate of ``q_kinesis_decode_json`` through
  ``sources.sink.parquet_stream_writer`` in update mode. A single producer
  publishes deltas in a closed loop: the next delta is created only after
  the micro-batch holding the previous delta's last record has committed.
  The first delta is untimed: it warms the new query, and in the first
  round the run's set-up ends with it. ``LIVE_DELTAS`` timed deltas
  follow;
* a backfill: after the live query has stopped, ``DRAINS`` fresh
  ``availableNow`` drains from TRIM_HORIZON of a seeded backlog, staged
  during set-up, each into a memory table (complete mode). This is the
  source's read path: per-record decode, then the same aggregate. The
  live phase before them warms the JVM: the first drain of a fresh JVM
  takes about three times as long as later ones, while the first drain
  after the live phase is within a tenth of the second.

The drains and the timed deltas are the round's operations. The drains run
alone, never beside the idle live query's offset polling.
"""

from __future__ import annotations

import ast
import datetime as dt
import os
import statistics
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

import checks
import gen
import layers
from spark_kinesis_sql_asl_spark.sources.envelope import decode_json_payload
from spark_kinesis_sql_asl_spark.sources.kinesis_source import (
    KinesisLikeStreamReader,
    register,
)
from spark_kinesis_sql_asl_spark.sources.sink import parquet_stream_writer

STREAM = "events"

BACKLOG_RECORDS = 200_000
BACKLOG_CHUNKS = 25  # per shard
DRAINS = 2  # timed, per round

DELTA_RECORDS = 2_000
LIVE_DELTAS = 7  # timed, per round
POLL_S = 0.02
COMMIT_TIMEOUT_S = 60.0

_ROW_COLS = (
    "partition_key", "n_records", "sum_k",
    "unix_micros(first_arrival)", "unix_micros(last_arrival)",
)


def decode_aggregate(records):
    """The query shape of ``q_kinesis_decode_json``: payload decode, then
    per partition key the count, the sum of ``k`` and the first and last
    arrival."""
    return decode_json_payload(records).groupBy("partitionKey").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("k_val").cast("bigint").alias("sum_k"),
        F.min("approximateArrivalTimestamp").alias("first_arrival"),
        F.max("approximateArrivalTimestamp").alias("last_arrival"),
    ).select(
        F.col("partitionKey").alias("partition_key"),
        "n_records", "sum_k", "first_arrival", "last_arrival",
    )


def _source(spark, root: str):
    return (
        spark.readStream.format("kinesislike")
        .option("path", root)
        .option("streams", STREAM)
        .option("initialPosition", "TRIM_HORIZON")
        .load()
    )


def _read_rate(root: str) -> float:
    """Records per second of ``KinesisLikeStreamReader.read`` over every
    shard slice of the stream, Spark-free and in this process."""
    reader = KinesisLikeStreamReader({"path": root, "streams": STREAM})
    t = time.perf_counter()
    n = 0
    for part in reader.partitions(reader.initialOffset(), reader.latestOffset()):
        for _ in reader.read(part):
            n += 1
    return n / (time.perf_counter() - t)


# ---------------------------------------------------------------------------
# backfill


def _drain(run, root: str, name: str, expected: dict) -> dict:
    """One ``availableNow`` drain into a memory table; checks its rows."""
    spark = run.spark
    agg = decode_aggregate(_source(spark, root))
    before = layers.max_job_id(spark)
    t = time.perf_counter()
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", run.path("ckpt", name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    progress = q.recentProgress
    op = {
        "name": name,
        "wall_ms": wall * 1000.0,
        "records": sum(p["numInputRows"] for p in progress),
        "batches": sum(1 for p in progress if p["numInputRows"] > 0),
        "exec": layers.exec_stats(spark, layers.jobs_after(spark, before)),
    }
    if run.trace:
        op["progress"] = layers.progress_layers(progress)
        op["start_stop_ms"] = op["wall_ms"] - sum(
            p["durationMs"].get("triggerExecution", 0) for p in progress)
        op["catalyst"] = layers.planning_ms(
            q._jsq.streamingQuery().lastExecution())
    rows = [tuple(r) for r in spark.table(name).selectExpr(*_ROW_COLS).collect()]
    spark.catalog.dropTempView(name)
    run.record(checks.compare_aggregate(expected, rows), name)
    run.log(f"{name}: {op['wall_ms']:.0f} ms")
    return op


# ---------------------------------------------------------------------------
# live


def _end_offsets(p: dict) -> dict:
    """Next chunk index per shard after a micro-batch. The progress carries
    the source's offset as the ``repr`` of its dict."""
    end = p["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = ast.literal_eval(end)
    return end.get(STREAM, {}) if end else {}


class _Producer:
    """The single producer of the live stream and the record of what it
    published."""

    def __init__(self, seed: int, root: str):
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.chunks = 0
        self.published: list[pa.Table] = []
        self.n = 0
        for shard in range(gen.N_SHARDS):
            os.makedirs(os.path.join(root, STREAM, f"shard-{shard}"), exist_ok=True)

    def publish_delta(self):
        """Create one delta, stamped with its creation time, and publish it
        as one chunk per shard. Returns (records, creation ms, publish ms)."""
        now = dt.datetime.now(dt.timezone.utc)
        records = gen.make_records(self.rng, DELTA_RECORDS,
                                   stamp=now.replace(tzinfo=None))
        t = time.perf_counter()
        gen.publish(records, self.root, STREAM, 1, self.chunks, self.n)
        publish_ms = (time.perf_counter() - t) * 1000.0
        self.chunks += 1
        self.n += records.num_rows
        self.published.append(records)
        return records, now.timestamp() * 1000.0, publish_ms


def _await_commit(q, last_batch: int, chunks: int) -> list[dict]:
    """Poll until a committed micro-batch's end offset covers ``chunks``
    chunks on every shard. Returns the progress of the batches after
    ``last_batch``.

    The poll reads only the last batch id from the JVM and fetches the
    progress as JSON only when a new batch has committed, so that it takes
    as little CPU as it can from the micro-batch it waits for. The delta's
    latency comes from the progress timestamps, not from this poll."""
    deadline = time.perf_counter() + COMMIT_TIMEOUT_S
    seen = last_batch
    while True:
        jp = q._jsq.lastProgress()
        if jp is not None and jp.batchId() > seen:
            seen = jp.batchId()
            ends = _end_offsets(q.lastProgress)
            if len(ends) == gen.N_SHARDS and min(ends.values()) >= chunks:
                return [x for x in q.recentProgress if x["batchId"] > last_batch]
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if time.perf_counter() > deadline:
            raise TimeoutError(f"chunk {chunks - 1} not committed in "
                               f"{COMMIT_TIMEOUT_S:.0f} s")
        time.sleep(POLL_S)


def _live_round(run, name: str) -> tuple[list[dict], dict]:
    """One live phase: start the query, publish one untimed delta (which
    ends the run's set-up if it has not ended) and then ``LIVE_DELTAS``
    timed ones, stop, and check the sink's end state.
    Returns the timed deltas and the phase's layer figures."""
    spark = run.spark
    root = run.path(name, "stream")
    sink_dir = run.path(name, "sink")
    producer = _Producer(run.seed, root)

    write_batch = parquet_stream_writer(sink_dir)
    sink_ms: list[float] = []

    def timed_write(batch_df, epoch_id):
        t = time.perf_counter()
        write_batch(batch_df, epoch_id)
        sink_ms.append((time.perf_counter() - t) * 1000.0)

    t = time.perf_counter()
    q = (
        decode_aggregate(_source(spark, root)).writeStream
        .foreachBatch(timed_write if run.trace else write_batch)
        .outputMode("update")
        .option("checkpointLocation", run.path(name, "ckpt"))
        .start()
    )
    start_ms = (time.perf_counter() - t) * 1000.0
    run.log(f"{name}: query started")
    last_batch = -1

    def one_delta(i: int) -> dict:
        nonlocal last_batch
        before = layers.max_job_id(spark)
        records, created_ms, publish_ms = producer.publish_delta()
        progress = _await_commit(q, last_batch, producer.chunks)
        last_batch = progress[-1]["batchId"]
        batches = [p for p in progress if p["numInputRows"] > 0]
        op = {
            "name": f"{name}.delta{i}",
            "latency_ms": layers.progress_end_ms(progress[-1]) - created_ms,
            "publish_ms": publish_ms,
            "records": records.num_rows,
            "batches": len(batches),
            "exec": layers.exec_stats(spark, layers.jobs_after(spark, before)),
        }
        if run.trace:
            op["progress"] = layers.progress_layers(batches)
            op["catalyst"] = layers.planning_ms(
                q._jsq.streamingQuery().lastExecution())
        keys = {str(u) for u in records.column("user_id").to_pylist()}
        rows = checks.latest_sink_rows(sink_dir, [p["batchId"] for p in batches])
        expected = checks.expected_aggregate(
            pa.concat_tables(producer.published), keys)
        run.record(checks.compare_aggregate(expected, rows), op["name"])
        run.log(f"{op['name']}: {op['latency_ms']:.0f} ms")
        return op

    try:
        run.warmup_ops.append(one_delta(0))
        if run.t_measure is None:
            run.setup_done()
        timed = [one_delta(i) for i in range(1, LIVE_DELTAS + 1)]
    finally:
        t = time.perf_counter()
        q.stop()
        start_ms += (time.perf_counter() - t) * 1000.0

    # The end state: each key's row in its latest epoch is its total.
    run.record(
        checks.compare_aggregate(
            checks.expected_aggregate(pa.concat_tables(producer.published)),
            checks.latest_sink_rows(sink_dir)),
        f"{name} final sink state",
    )
    figures = {"live.start_stop_ms": start_ms}
    if run.trace:
        figures["sink.write_ms"] = statistics.median(sink_ms)
        figures["source.read_records_per_s"] = _read_rate(root)
    return timed, figures


# ---------------------------------------------------------------------------
# the workload


def kinesis(run) -> None:
    backlog = run.path("backlog")

    def prepare():
        records = gen.make_records(np.random.default_rng(run.seed), BACKLOG_RECORDS)
        t = time.perf_counter()
        gen.publish(records, backlog, STREAM, BACKLOG_CHUNKS, 0, 0)
        publish_ms = (time.perf_counter() - t) * 1000.0
        return checks.expected_aggregate(records), publish_ms

    expected, publish_ms = run.start(prepare)
    register(run.spark)

    drains, deltas, live_figures = [], [], []
    while not drains or time.perf_counter() - run.t_measure < run.seconds:
        n = len(live_figures)
        timed, figures = _live_round(run, f"live{n}")
        deltas += timed
        live_figures.append(figures)
        drains += [_drain(run, backlog, f"drain{n}_{i}", expected)
                   for i in range(DRAINS)]
    run.log("rounds done")
    run.ops = ops = drains + deltas
    walls = [op["wall_ms"] for op in drains]
    run.metrics.update(
        latency_ms=statistics.median(op["latency_ms"] for op in deltas),
        records_per_s=sum(op["records"] for op in drains) / (sum(walls) / 1000.0),
        # Per micro-batch that read data, not per operation: a delta whose
        # chunks the source lists between two of the producer's renames is
        # split into two batches, now and then and whatever the program.
        jobs_per_op=sum(op["exec"]["jobs"] for op in ops)
        / sum(op["batches"] for op in ops),
        shuffle_bytes_per_op=sum(
            op["exec"]["shuffle_write_bytes"] for op in ops) / len(ops),
    )
    if run.trace:
        _trace_layers(run, drains, deltas, live_figures, publish_ms)


def _trace_layers(run, drains, deltas, live_figures, publish_ms) -> None:
    """Per-operation medians. The drains give the read-path layers, the
    deltas the per-trigger streaming, sink and execution layers."""
    med = lambda xs: float(statistics.median(xs))  # noqa: E731
    run.layers.update(
        {name: med([op["progress"][name] for op in deltas])
         for name in deltas[0]["progress"]})
    for key in ("jobs", "stages", "tasks", "task_run_ms", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes"):
        run.layers[f"exec.{key}"] = med([op["exec"][key] for op in deltas])
    for phase in ("analysis", "optimization", "planning"):
        run.layers[f"catalyst.{phase}_ms"] = med(
            [op["catalyst"][phase] for op in deltas])
    run.layers["streaming.batches_per_delta"] = med([op["batches"] for op in deltas])
    run.layers["staging.publish_ms"] = med([op["publish_ms"] for op in deltas])
    run.layers["staging.backlog_publish_ms"] = publish_ms
    run.layers["sink.write_ms"] = med([f["sink.write_ms"] for f in live_figures])
    run.layers["source.read_records_per_s"] = _read_rate(run.path("backlog"))
    run.layers["source.live_read_records_per_s"] = med(
        [f["source.read_records_per_s"] for f in live_figures])
    run.layers["streaming.start_ms"] = med([op["start_stop_ms"] for op in drains])
    run.layers["streaming.live_start_stop_ms"] = med(
        [f["live.start_stop_ms"] for f in live_figures])
    run.layers["drain.add_batch_ms"] = med(
        [op["progress"]["streaming.add_batch_ms"] for op in drains])
    run.layers["drain.state_commit_ms"] = med(
        [op["progress"]["streaming.state_commit_ms"] for op in drains])
    run.layers["drain.task_run_ms"] = med([op["exec"]["task_run_ms"] for op in drains])
