"""Fixture-table access (TESTDATA.md / FIXTURES.md).

Every query function loads inputs through :func:`table` so that runtime-
settable session confs the oracle contract depends on are pinned even when
the SparkSession is driver-provided.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Runtime-settable confs pinned per query invocation. Timezone must match
# DuckDB's naive-timestamp rendering; AQE keeps plans scale-adaptive.
# nanosAsLong: events.parquet stores ts as TIMESTAMP(NANOS), which Spark's
# reader otherwise rejects (PARQUET_TYPE_ILLEGAL); read as int64 nanos and
# truncate to micros in table() — matching DuckDB's ns→µs truncation.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def prep(spark: SparkSession) -> SparkSession:
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    return spark


# The family-state store: the one cross-query memo of the package. Lazy
# table plans (`spark.read.parquet` re-reads footers and re-infers the
# schema on every call, ~160 ms of Spark driver time measured) and the LLM
# families' expensive build state (scored pairs, signatures, labels,
# centroids) are all held here, under one rule:
#
# - key: (family, abspath(sf_dir)); ``family`` carries any build
#   parameters, e.g. ("centroids", rounds, k);
# - value: (applicationId, corpus fingerprint, result), the fingerprint
#   being (mtime_ns, size) of each TABLES file under sf_dir;
# - a lookup hits only when applicationId and fingerprint both match, so a
#   fixture rewritten in place or a new application rebuilds;
# - a put drops every entry of another applicationId: a process has at most
#   one live SparkContext, so those entries belong to dead sessions.
#
# The lock guards the dict only. Builds run outside it because they nest
# (semantic CC labels -> semantic pairs -> centroids) and because warm-up
# threads build several families at once.
_STORE: dict = {}
_STORE_LOCK = threading.Lock()


def _file_fingerprint(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isfile(path):
        return None
    return (st.st_mtime_ns, st.st_size)


def get_or_build(spark: SparkSession, family, sf_dir: str, build):
    """Return the stored result of ``build()`` for (``family``, ``sf_dir``)
    in this Spark application, calling ``build()`` when there is none or
    when any fixture table under ``sf_dir`` changed since it was built."""
    app = spark.sparkContext.applicationId
    root = os.path.abspath(sf_dir)
    key = (family, root)
    fp = tuple(
        _file_fingerprint(os.path.join(root, f"{t}.parquet")) for t in TABLES
    )
    with _STORE_LOCK:
        ent = _STORE.get(key)
    if ent is not None and ent[0] == app and ent[1] == fp:
        return ent[2]
    val = build()
    with _STORE_LOCK:
        for k in [k for k, e in _STORE.items() if e[0] != app]:
            del _STORE[k]
        _STORE[key] = (app, fp, val)
    return val


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one fixture table; column pruning / predicate
    pushdown happen automatically downstream (SURVEY.md §4).

    The lazy plan is held in the family-state store (no data is cached:
    every action still scans the file). A path that is not a regular file
    is read afresh on every call."""
    prep(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"

    def build():
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # The reference fixture stores ts as TIMESTAMP(NANOS), which the
            # nanosAsLong conf surfaces as int64; convert to
            # TimestampType(µs) via integer division (truncation, like
            # DuckDB). Must stay integer arithmetic: a double round-trip
            # would mis-round near-µs-boundary values (ulp at 1.7e15 is
            # 0.25). Fixtures already written at µs (e.g. the adversarial
            # set) read as TimestampType and pass through.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            ).select(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            )
        # Parquet written with plain (non-UTC-adjusted) µs timestamps reads
        # as TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ; normalize to
        # TimestampType so downstream epoch functions (unix_micros etc.)
        # work identically to the reference fixtures. Value-preserving:
        # session tz is pinned to UTC in _RUNTIME_CONFS.
        for col, dtype in df.dtypes:
            if dtype == "timestamp_ntz":
                df = df.withColumn(col, F.col(col).cast("timestamp"))
        return df

    if _file_fingerprint(path) is None:
        return build()
    return get_or_build(spark, ("table", name), sf_dir, build)


def parallel_table(
    spark: SparkSession, sf_dir: str, name: str, key: str = "doc_id"
) -> DataFrame:
    """:func:`table` plus a parallelism floor for CPU-heavy scan stages.

    Parquet scans parallelize by row-group split, and the small fixture
    files are a single row group — so every expression pipelined onto the
    scan (shingling, hashing, vector math) and every localCheckpoint taken
    from it runs as ONE task, serializing the 32-core session (measured:
    q_llm_dedup_ngram spent 3.4 s single-task tokenizing at sf0.1).

    Rule: exchange by ``key`` to the session's default parallelism ONLY
    when the scan produces fewer splits than cores. At 100 TB a documents
    scan has thousands of natural splits, the condition is false, and no
    shuffle is added — this helper can never become the scale-killer
    "repartition the corpus" anti-pattern; it only repairs the degenerate
    small-file case. The explicit numPartitions pins the exchange against
    AQE coalescing (tiny inputs would otherwise collapse back to 1).

    The exchange has ``defaultParallelism`` partitions (one per core). A
    join on ``key`` downstream reuses it only when that count is at least
    ``spark.sql.shuffle.partitions``; otherwise the join adds its own
    exchange, so plan-shape bounds read off one host do not carry to
    another. Frames feeding such a join with little per-row work should
    read :func:`table` instead.
    """

    # The split-count probe compiles the plan to an RDD (~110 ms of driver
    # work per call, measured) and the repartition node is another ~50 ms
    # of py4j plan construction, so the finished lazy plan is stored like
    # table()'s.
    def build():
        df = table(spark, sf_dir, name)
        p = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < p:
            df = df.repartition(p, key)
        return df

    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if _file_fingerprint(path) is None:
        return build()
    return get_or_build(spark, ("parallel_table", name, key), sf_dir, build)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
