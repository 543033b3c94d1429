"""Kinesis-shaped write side (SURVEY.md §2 row A12).

The reference is read-only (`[PK]` — maropu's connector implements no sink;
sibling connectors added one later), so this module is the north-star
completion of the surface: a ``writeStream.foreachBatch`` sink that puts
envelope-shaped rows (sources/envelope.py, KINESIS_SCHEMA_DDL) onto

- a real Kinesis stream via boto3 ``put_records`` (import-guarded: boto3 is
  not installed in this container and no AWS endpoint is reachable — the
  code path raises a clear error instead of failing mid-stream), or
- an offline parquet "stream" directory (the harness twin, used in tests):
  one file group per micro-batch, which the KinesisLike replay source can
  consume — giving a full loop: stream → transform → sink → re-ingest.

foreachBatch is the idiomatic Structured Streaming escape hatch for sinks
Spark lacks natively: per micro-batch, Spark hands us a batch DataFrame and
an epoch id; retries re-deliver the same epoch, so sinks keyed by epoch are
exactly-once on top of at-least-once delivery.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_PUT_RECORDS_MAX = 500  # AWS Kinesis PutRecords batch limit


def kinesis_put_records_writer(stream_name: str, region: str | None = None,
                               endpoint_url: str | None = None):
    """foreachBatch function writing envelope rows to real Kinesis.

    Untestable offline; the boto3 import is deferred so merely constructing
    the writer (or importing this module) never requires AWS deps. Rows are
    chunked to the 500-record PutRecords service limit; per-partition
    clients avoid serializing connections through the driver."""
    try:
        import boto3  # noqa: F401
    except ImportError as e:  # pragma: no cover - offline container
        raise ImportError(
            "boto3 is required for the real-Kinesis sink; offline harnesses "
            "should use parquet_stream_writer instead"
        ) from e

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:  # pragma: no cover
        def put_partition(rows):
            import boto3

            client = boto3.client(
                "kinesis", region_name=region, endpoint_url=endpoint_url
            )
            buf = []
            for r in rows:
                buf.append({"Data": bytes(r.data), "PartitionKey": r.partitionKey})
                if len(buf) == _PUT_RECORDS_MAX:
                    client.put_records(StreamName=stream_name, Records=buf)
                    buf = []
            if buf:
                client.put_records(StreamName=stream_name, Records=buf)

        batch_df.select("data", "partitionKey").foreachPartition(put_partition)

    return write_batch


def parquet_stream_writer(out_dir: str):
    """Offline sink twin: each micro-batch lands as parquet under
    ``out_dir/epoch=<id>/`` — idempotent per epoch (overwrite), so a
    retried epoch replaces itself instead of duplicating (the exactly-once
    contract real sinks implement with sequence tokens).

    The write keeps the micro-batch's partitioning, so an epoch of a
    stateful stream holds one file per non-empty state partition. On a
    ``get_session`` session that is ``min(defaultParallelism,
    spark.sql.shuffle.partitions)``; a checkpoint keeps the count frozen in
    its offset log (``tests/test_kinesis_source.py`` checks both)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

    return write_batch
