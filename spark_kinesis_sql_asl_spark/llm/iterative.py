"""Shared machinery for iterative (multi-job) operators — the CC label
loop (C21) and the BPE merge loop (C56) both materialize per-round state
to parquet: a reliable store (an executor loss recomputes from disk,
unlike ``localCheckpoint`` whose blocks die with the executor) that also
truncates lineage so round-k plans stay flat.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid


def scratch_dir(spark, prefix: str) -> str:
    """Resolve a staging dir for per-round parquet state, in order:

    1. the session's checkpoint dir if set (on a real cluster an HDFS/S3
       prefix every executor can reach — the durability claim holds);
    2. the ``spark.kinesislike.scratchDir`` conf;
    3. a driver-local tempdir — correct in local mode (this harness), and
       registered for best-effort removal at interpreter exit. Cluster
       operators should set (1) or (2); those dirs follow the cluster's
       scratch-retention policy, like checkpoint files.
    """
    root = spark.sparkContext.getCheckpointDir() or spark.conf.get(
        "spark.kinesislike.scratchDir", None
    )
    if root:
        return os.path.join(root, f"{prefix}_{uuid.uuid4().hex}")
    stage = tempfile.mkdtemp(prefix=f"{prefix}_")
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    return stage


def parquet_barrier(spark, df, stage: str, name: str):
    """Materialize ``df`` to ``stage/name`` parquet and return the
    re-read frame — the restart-safe sibling of ``localCheckpoint``:

    - **reliability**: the blocks live in the (cluster-reachable, per
      :func:`scratch_dir`) store, so on a 1000-executor run losing an
      executor re-reads the file instead of recomputing the whole
      upstream DAG (``localCheckpoint`` blocks die with their executor
      and, worse, are *unrecoverable* — the lineage was truncated);
    - **lineage truncation**: downstream plans start at a plain parquet
      scan, same as ``localCheckpoint``;
    - **statistics**: the scan carries real file sizes, so AQE and the
      broadcast planner see true sizes instead of the unknown-size
      relation a checkpoint leaves behind.

    Cost: one parquet write per barrier (snappy, columnar — for the
    id/score frames barriered here, comparable to the in-memory copy
    ``localCheckpoint(eager=True)`` makes).
    """
    path = os.path.join(stage, name)
    df.write.parquet(path)
    # Pin the schema we just wrote: an inferring read pays a footer-read
    # job plus ~70 ms of driver plan work PER BARRIER (measured round 14);
    # the schema is by construction the written frame's own.
    return spark.read.schema(df.schema).parquet(path)
