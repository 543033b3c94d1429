"""KinesisLike streaming source — the Tier A connector facade
(SURVEY.md §2 rows A1-A5, A9-A11; §1.1 data model).

A PySpark Python Data Source (PySpark ≥ 4 [SPARK]) that presents a sharded,
file-staged record log as an unbounded DataFrame with the de-facto Kinesis
record schema:

    data BINARY, streamName STRING, partitionKey STRING,
    sequenceNumber STRING, approximateArrivalTimestamp TIMESTAMP

Mapping to the reference connector's responsibilities (SURVEY.md §2 Tier A —
reference checkout empty, rows cited by inventory id):
- A1 source registration . `KinesisLikeDataSource.name() == "kinesislike"`,
  `spark.dataSource.register(...)`
- A2 stream scan ......... `partitions(start, end)` → one InputPartition per
  (stream, shard) with a [from, to) chunk range; `read()` decodes records
- A3 offset management ... offsets are a JSON-able dict
  {stream: {shard: next_chunk_index}} checkpointed by Structured Streaming
- A4 initial position .... option `initialPosition` = TRIM_HORIZON | LATEST
  | AT_TIMESTAMP (+ `startTimestamp`, ISO-8601): each shard starts at its
  first chunk containing a record at/after the timestamp (chunk granularity,
  via parquet row-group max statistics — no data read at planning time)
- A5 shard discovery ..... shard set re-enumerated every `latestOffset()`
  call → split/merge between micro-batches is picked up (new shards start
  at 0, their TRIM_HORIZON)
- A9 multi-stream union .. option `streams` = comma-separated stream names
  (default: every stream dir under `path`)
- A10 endpoint/creds ..... accepted and ignored offline (`endpointUrl`,
  `awsAccessKeyId`, ...) — a boto3-backed variant would consume them
- A11 data-loss policy ... option `failOnDataLoss` (default true): aged-out
  chunks (missing files below the requested index) either raise or skip

Layout on disk (the "stream"): {path}/{stream}/shard-{k}/{chunk:08d}.parquet
written by staging.write_staging — parquet chosen so records are typed and
the executor-side read is an Arrow scan whose record batches go to the JVM
as they are, with arrival instants labelled UTC.

Scale note: parallelism == shard count, exactly like the real connector
(one RDD partition per shard, SURVEY.md §4); at 1000 executors you raise
shard count, not this code.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from .envelope import KINESIS_SCHEMA_DDL
from .staging import _ENVELOPE_FIELDS

_SHARD_PREFIX = "shard-"
_CHUNK_SUFFIX = ".parquet"

# Declared envelope column order (KINESIS_SCHEMA_DDL's). PySpark hands a
# data source's Arrow batches to the JVM by column position and checks only
# their names, so executor reads emit THIS order whatever a chunk file's
# physical order is.
_ENVELOPE_COLS = tuple(
    f.split()[0] for f in KINESIS_SCHEMA_DDL.split(", ")
)


def _utc(typ: pa.DataType) -> pa.DataType:
    return pa.timestamp(typ.unit, tz="UTC") if pa.types.is_timestamp(typ) else typ


# The staged chunks' types in the declared order. Staging writes naive
# microseconds that mean UTC, so the reader labels them UTC: a labelled
# instant reaches Spark as is, whatever the Python worker's local zone.
_ENVELOPE_SCHEMA = pa.schema(
    [(c, _utc(dict(_ENVELOPE_FIELDS)[c])) for c in _ENVELOPE_COLS]
)


def _list_streams(path: str, streams_opt: str | None) -> list[str]:
    if streams_opt:
        return [s.strip() for s in streams_opt.split(",") if s.strip()]
    if not os.path.isdir(path):
        return []
    return sorted(
        d for d in os.listdir(path) if os.path.isdir(os.path.join(path, d))
    )


def _list_shards(path: str, stream: str) -> list[str]:
    sdir = os.path.join(path, stream)
    if not os.path.isdir(sdir):
        return []
    return sorted(
        d
        for d in os.listdir(sdir)
        if d.startswith(_SHARD_PREFIX) and os.path.isdir(os.path.join(sdir, d))
    )


def _chunk_indices(path: str, stream: str, shard: str) -> list[int]:
    cdir = os.path.join(path, stream, shard)
    out = []
    for f in os.listdir(cdir):
        if f.endswith(_CHUNK_SUFFIX):
            try:
                out.append(int(f[: -len(_CHUNK_SUFFIX)]))
            except ValueError:
                continue
    return sorted(out)


def _chunk_file(path: str, stream: str, shard: str, idx: int) -> str:
    return os.path.join(path, stream, shard, f"{idx:08d}{_CHUNK_SUFFIX}")


def _chunk_max_ts(f: str):
    """Max approximateArrivalTimestamp of a chunk from parquet row-group
    statistics — planning-time positioning without reading data."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(f).metadata
    col_idx = next(
        i
        for i in range(md.num_columns)
        if md.row_group(0).column(i).path_in_schema
        == "approximateArrivalTimestamp"
    )
    best = None
    for g in range(md.num_row_groups):
        stats = md.row_group(g).column(col_idx).statistics
        if stats is not None and stats.has_min_max:
            mx = stats.max
            best = mx if best is None or mx > best else best
    return best


@dataclass
class ShardSlice(InputPartition):
    """One micro-batch's worth of one shard: chunks [start, end)."""

    path: str
    stream: str
    shard: str
    start: int
    end: int
    skip_missing: bool


def _read_slice(part: ShardSlice):
    """Executor-side record decode (A2/A6): yields each chunk file's rows as
    ``pyarrow.RecordBatch``es with ``_ENVELOPE_SCHEMA``'s column order and
    types. Runs in a Python worker with no SparkSession.

    A chunk without an envelope column raises ``ValueError``; one whose
    types do not cast to the envelope's fails in the cast, before the JVM
    sees it. A11 data-loss policy covers both loss classes: a chunk missing
    below the requested offset (aged out past retention) and a chunk
    present but unreadable (truncated mid-write, bit rot: pyarrow raises on
    the footer or page decode). failOnDataLoss=true raises a [DATA_LOSS]
    error naming the chunk; =false skips it and reports the counted gap on
    stderr, so a backfill can quantify what the lenient read dropped."""
    import sys

    import pyarrow.parquet as pq

    skipped: list[int] = []
    for idx in range(part.start, part.end):
        f = _chunk_file(part.path, part.stream, part.shard, idx)
        if not os.path.exists(f):
            if part.skip_missing:
                skipped.append(idx)
                continue  # A11: warn-and-skip policy
            raise RuntimeError(
                f"[DATA_LOSS] chunk {idx} of {part.stream}/{part.shard} aged "
                f"out (missing {f}); set failOnDataLoss=false to skip"
            )
        try:
            tbl = pq.read_table(f)
        except Exception as exc:
            if part.skip_missing:
                skipped.append(idx)
                continue
            raise RuntimeError(
                f"[DATA_LOSS] chunk {idx} of {part.stream}/{part.shard} is "
                f"unreadable ({type(exc).__name__}: {exc}); corrupt or "
                f"truncated chunk file {f}; set failOnDataLoss=false to skip"
            ) from exc
        missing = [c for c in _ENVELOPE_COLS if c not in tbl.column_names]
        if missing:
            raise ValueError(
                f"chunk {f} missing envelope columns {missing}; "
                f"has {tbl.column_names}"
            )
        yield from tbl.select(_ENVELOPE_COLS).cast(_ENVELOPE_SCHEMA).to_batches()
    if skipped:
        print(
            f"[kinesislike] WARN data loss: skipped {len(skipped)} chunk(s) "
            f"{skipped} of {part.stream}/{part.shard} (failOnDataLoss=false)",
            file=sys.stderr,
        )


class KinesisLikeStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kinesislike source requires option 'path'")
        self.streams_opt = options.get("streams")
        self.initial_position = (
            options.get("initialposition") or options.get("initialPosition") or "TRIM_HORIZON"
        ).upper()
        self.start_timestamp = options.get("starttimestamp") or options.get(
            "startTimestamp"
        )
        if self.initial_position == "AT_TIMESTAMP" and not self.start_timestamp:
            raise ValueError(
                "initialPosition=AT_TIMESTAMP requires option 'startTimestamp' "
                "(ISO-8601, e.g. 2024-01-01T00:00:00)"
            )
        fodl = (options.get("failondataloss") or options.get("failOnDataLoss") or "true")
        self.fail_on_data_loss = str(fodl).lower() != "false"

    # -- offsets (A3) -----------------------------------------------------
    def _frontier(self) -> dict:
        """Current end offsets: next chunk index per (stream, shard)."""
        out: dict = {}
        for stream in _list_streams(self.path, self.streams_opt):
            shards = {}
            for shard in _list_shards(self.path, stream):
                idxs = _chunk_indices(self.path, stream, shard)
                shards[shard] = (idxs[-1] + 1) if idxs else 0
            out[stream] = shards
        return out

    def initialOffset(self) -> dict:
        if self.initial_position == "LATEST":
            return self._frontier()
        if self.initial_position == "AT_TIMESTAMP":
            return self._at_timestamp_offsets()
        # TRIM_HORIZON: start of retained data for every known shard
        return {
            stream: {shard: 0 for shard in shards}
            for stream, shards in self._frontier().items()
        }

    def _at_timestamp_offsets(self) -> dict:
        """A4 AT_TIMESTAMP: per shard, the first chunk whose max record
        timestamp is at/after startTimestamp (all earlier chunks contain
        only older records and are skipped); shards fully in the past start
        at their frontier (nothing to replay)."""
        import datetime as _dt

        cutoff = _dt.datetime.fromisoformat(self.start_timestamp)
        out: dict = {}
        for stream, shards in self._frontier().items():
            positions = {}
            for shard, frontier in shards.items():
                pos = frontier
                for idx in _chunk_indices(self.path, stream, shard):
                    mx = _chunk_max_ts(_chunk_file(self.path, stream, shard, idx))
                    if mx is not None and mx >= cutoff:
                        pos = idx
                        break
                positions[shard] = pos
            out[stream] = positions
        return out

    def latestOffset(self) -> dict:
        return self._frontier()

    # -- planning (A2, A5) ------------------------------------------------
    def partitions(self, start: dict, end: dict):
        parts = []
        for stream, shards in end.items():
            for shard, hi in shards.items():
                # shard absent from `start` == discovered mid-stream
                # (split/merge, A5) → begins at its TRIM_HORIZON
                lo = start.get(stream, {}).get(shard, 0)
                if hi > lo:
                    parts.append(
                        ShardSlice(
                            self.path, stream, shard, lo, hi,
                            skip_missing=not self.fail_on_data_loss,
                        )
                    )
        # Always return ≥1 partition: Spark requires a non-empty plan even
        # for an empty micro-batch.
        if not parts:
            parts = [ShardSlice(self.path, "", "", 0, 0, True)]
        return parts

    def read(self, partition: ShardSlice):
        return _read_slice(partition)

    def commit(self, end: dict) -> None:
        # Retention/cleanup hook; file chunks are retained by the harness.
        pass


class KinesisLikeBatchReader(DataSourceReader):
    """Batch twin: read the full retained log (used for parity tests and
    backfills — the same files, the same schema)."""

    def __init__(self, options):
        self.stream_reader = KinesisLikeStreamReader(options)

    def partitions(self):
        frontier = self.stream_reader._frontier()
        start = {s: {sh: 0 for sh in shards} for s, shards in frontier.items()}
        return self.stream_reader.partitions(start, frontier)

    def read(self, partition: ShardSlice):
        return _read_slice(partition)


class KinesisLikeDataSource(DataSource):
    """A1: the registerable provider. Usage:

        spark.dataSource.register(KinesisLikeDataSource)
        df = (spark.readStream.format("kinesislike")
                    .option("path", staging_root)
                    .option("streams", "events,clicks")
                    .option("initialPosition", "TRIM_HORIZON")
                    .load())
    """

    @classmethod
    def name(cls) -> str:
        return "kinesislike"

    def schema(self) -> str:
        return KINESIS_SCHEMA_DDL

    def streamReader(self, schema: StructType) -> KinesisLikeStreamReader:
        return KinesisLikeStreamReader(self.options)

    def reader(self, schema: StructType) -> KinesisLikeBatchReader:
        return KinesisLikeBatchReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(KinesisLikeDataSource)
