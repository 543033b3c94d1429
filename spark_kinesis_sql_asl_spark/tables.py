"""Fixture-table access (TESTDATA.md / FIXTURES.md).

Every query function loads inputs through :func:`table` so that runtime-
settable session confs the oracle contract depends on are pinned even when
the SparkSession is driver-provided.
"""

from __future__ import annotations

import os
import weakref

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


# Lazy-DataFrame memo (round 14, guide §1.2/§5: driver-side work is real
# work). `spark.read.parquet` re-reads footers and re-infers the schema on
# EVERY call — measured ~160 ms of driver/py4j time per `table()` call, paid
# inside each timed query. A 100 TB deployment reads through a catalog table
# whose schema is resolved once; this memo is that catalog. It caches ONLY
# the unexecuted lazy plan (schema + source path): every action still scans
# the parquet input, so no result or data caching is introduced. Keyed on
# (session identity, resolved path, file mtime+size) so staged fixture
# rewrites and new sessions invalidate naturally; directory inputs (never
# used by fixtures) bypass the memo.
_DF_MEMO: dict = {}
_PAR_MEMO: dict = {}


def _file_fingerprint(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isfile(path):
        return None
    return (st.st_mtime_ns, st.st_size)


def _memo_get(memo: dict, spark: SparkSession, path: str, fp):
    ent = memo.get((path, fp))
    if ent is not None:
        ref, val = ent
        if ref() is spark:
            return val
    return None


def _memo_put(memo: dict, spark: SparkSession, path: str, fp, val) -> None:
    if len(memo) > 512:  # bound growth across many test sessions/paths
        memo.clear()
    memo[(path, fp)] = (weakref.ref(spark), val)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one fixture table; column pruning / predicate
    pushdown happen automatically downstream (SURVEY.md §4)."""
    prep(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    fp = _file_fingerprint(path)
    if fp is not None:
        cached = _memo_get(_DF_MEMO, spark, path, fp)
        if cached is not None:
            return cached
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # The driver fixture stores ts as TIMESTAMP(NANOS), which the
        # nanosAsLong conf surfaces as int64; convert to TimestampType(µs)
        # via integer division (truncation, like DuckDB). Must stay integer
        # arithmetic: a double round-trip would mis-round near-µs-boundary
        # values (ulp at 1.7e15 is 0.25). Fixtures already written at µs
        # (e.g. the adversarial set) read as TimestampType and pass through.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        ).select("event_id", "ts", "user_id", "event_type", "value", "props")
    # Parquet written with plain (non-UTC-adjusted) µs timestamps reads as
    # TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ; normalize to
    # TimestampType so downstream epoch functions (unix_micros etc.) work
    # identically to the driver fixtures. Value-preserving: session tz is
    # pinned to UTC in _RUNTIME_CONFS.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    if fp is not None:
        _memo_put(_DF_MEMO, spark, path, fp, df)
    return df


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
    # work per call, measured) and the repartition node itself is another
    # ~50 ms of py4j plan construction; the result is a pure function of
    # (file, session confs, key), so memoize the finished lazy plan beside
    # the DataFrame memo (same invalidation, same no-data-cached property).
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    fp = _file_fingerprint(path)
    if fp is not None:
        cached = _memo_get(_PAR_MEMO, spark, path, (fp, key))
        if cached is not None:
            return cached
    df = table(spark, sf_dir, name)
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        df = df.repartition(p, key)
    if fp is not None:
        _memo_put(_PAR_MEMO, spark, path, (fp, key), df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
