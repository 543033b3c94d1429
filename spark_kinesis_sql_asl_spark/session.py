"""SparkSession factory for local development, tests and bench.

The driver supplies its own session to ``entry()``/``queries()``; runtime-
settable confs that correctness depends on (session timezone) are therefore
re-applied per query via :func:`spark_kinesis_sql_asl_spark.tables.prep`, not
only here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's internal per-query state-partition count (see ``get_session``).
STATE_PARTITIONS_KEY = "spark.sql.streaming.internal.stateStore.partitions"


def get_session(app_name: str = "spark-kinesis-sql-asl-spark") -> SparkSession:
    """Return the local session, with one streaming state partition per core.

    A stateful stream commits one state store per state partition on every
    micro-batch, so on small deltas that fixed per-partition cost is the
    latency floor. Streams started on this session therefore get
    ``min(defaultParallelism, spark.sql.shuffle.partitions)`` state
    partitions, while batch queries keep the 32 shuffle partitions and AQE.
    Spark has no public streaming-only partition setting, so this sets the
    internal key that ``StreamExecution.runStream`` otherwise fills from
    ``spark.sql.shuffle.partitions``; a value already on the session is
    kept. A checkpoint keeps the count frozen in its offset log.
    ``tests/test_kinesis_source.py::test_state_partitions_follow_cores``
    pins the policy and fails if a Spark upgrade drops the key.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Determinism + DuckDB-oracle agreement (SURVEY.md §4):
        .config("spark.sql.session.timeZone", "UTC")
        # Scale posture: AQE coalesces/skew-splits at runtime; at 100 TB the
        # same plan re-partitions itself instead of needing hand-tuning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    if spark.conf.get(STATE_PARTITIONS_KEY, None) is None:
        spark.conf.set(
            STATE_PARTITIONS_KEY,
            str(min(
                spark.sparkContext.defaultParallelism,
                int(spark.conf.get("spark.sql.shuffle.partitions")),
            )),
        )
    return spark
