"""The analytics workload: a fixed mix of oracled registry queries.

Each query of ``MIX`` runs once, in an order drawn from the seed, on a
fixture at sf0.1 generated for the run; per query the time is the call into
the query function plus its action (collecting the result). A run never
repeats a query: the pair-family memos are kept per Spark application and
fixture directory, so a repeat would time the memo, not the query. Before
the timed mix a warm-up runs ``WARMUP`` on a tiny fixture in another
directory, which leaves the sf0.1 memos cold.

The run's latency is the mean over the mix (summed query time over the mix
size). A query's own time depends on which query ran before it, as the
first query to read a table or to use a plan shape pays for it; the sum
does not depend on the order, so the mean is steady where a median over ten
queries is not.

After the mix every result is compared with its registered DuckDB oracle.
"""

from __future__ import annotations

import statistics
import time

import duckdb
import numpy as np

import checks
import gen
import layers
from spark_kinesis_sql_asl_spark.registry import all_oracles, all_queries
from tests.driver_canon import compare, spark_to_pandas

SF = 0.1
# The corpus tables (documents, embeddings) stay at 500 rows, their size in
# the test fixtures up to sf0.01: at 5,000 documents the Jaccard pair
# family alone builds for about 17 s on a 4-vCPU host, more than a whole
# run can spend on the mix.
N_DOCS = 500
WARMUP_SF = 0.001
WARMUP_DOCS = 100

# 10 queries, stratified over the registry's modules; each result is small
# enough that collecting and checking it does not dominate.
MIX = (
    # operators.*
    "q_agg_group", "q_agg_rollup", "q_topk_per_group", "q_events_funnel",
    "q_join_anti",
    # llm.* (q_llm_dedup_jaccard builds the shared Jaccard pair family)
    "q_llm_dedup_jaccard", "q_llm_sample_hash", "q_llm_heavy_hitters",
    # functions.*
    "q_fn_string",
    # sources.kinesis_queries
    "q_kinesis_decode_json",
)
# The first query of a fresh JVM takes several seconds more than later
# ones; it is set-up, not a sample.
WARMUP = ("q_agg_group",)


def analytics(run) -> None:
    sf_dir = run.path("sf0.1")
    warm_dir = run.path("sf0.001")

    def prepare():
        gen.write_fixture(sf_dir, SF, N_DOCS)
        gen.write_fixture(warm_dir, WARMUP_SF, WARMUP_DOCS)

    run.start(prepare)
    spark = run.spark
    sc = spark.sparkContext
    queries = all_queries()
    oracles = all_oracles()
    for name in WARMUP:
        spark_to_pandas(queries[name](spark, warm_dir))
    order = [MIX[i] for i in np.random.default_rng(run.seed).permutation(len(MIX))]
    run.setup_done()

    before = layers.max_job_id(spark)
    results = {}
    for name in order:
        try:
            if run.trace:
                sc.setJobGroup(f"build:{name}", name)
            t = time.perf_counter()
            df = queries[name](spark, sf_dir)
            if run.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
            t_built = time.perf_counter()
            pdf = spark_to_pandas(df)
            op = {"name": name,
                  "latency_ms": (time.perf_counter() - t) * 1000.0,
                  "build_ms": (t_built - t) * 1000.0}
            if run.trace:
                op["catalyst"] = layers.planning_ms(df._jdf.queryExecution())
        except Exception as exc:  # one failed query must not stop the mix
            run.fail(name, exc)
            continue
        results[name] = pdf
        run.ops.append(op)
    stats = layers.exec_stats(spark, layers.jobs_after(spark, before))
    run.log("mix done")

    lat = [op["latency_ms"] for op in run.ops]
    run.metrics.update(
        latency_ms=statistics.fmean(lat),
        records_per_s=stats["input_records"] / (sum(lat) / 1000.0),
        jobs_per_op=stats["jobs"] / len(MIX),
        shuffle_bytes_per_op=stats["shuffle_write_bytes"] / len(MIX),
    )
    if run.trace:
        _trace_layers(run, stats)

    con = duckdb.connect()
    try:
        for name, pdf in results.items():
            oracle = checks.oracle_frame(con, oracles[name], sf_dir)
            run.record(compare(pdf, oracle), name)
    finally:
        con.close()


def _trace_layers(run, stats: dict) -> None:
    """Mix totals of the build, Catalyst and execution layers. Eager barrier
    jobs sit in a few queries, so a per-query median would hide them."""
    tracker = run.spark.sparkContext.statusTracker()
    for op in run.ops:
        op["build_jobs"] = len(tracker.getJobIdsForGroup(f"build:{op['name']}"))
    run.layers["query.latency_p50_ms"] = statistics.median(
        op["latency_ms"] for op in run.ops)
    run.layers["query.build_ms"] = sum(op["build_ms"] for op in run.ops)
    run.layers["query.build_jobs"] = sum(op["build_jobs"] for op in run.ops)
    for phase in ("analysis", "optimization", "planning"):
        run.layers[f"catalyst.{phase}_ms"] = sum(
            op["catalyst"][phase] for op in run.ops)
    for key in ("jobs", "stages", "tasks", "task_run_ms", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes"):
        run.layers[f"exec.{key}"] = stats[key]
