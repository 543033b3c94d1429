"""Readers for Spark's in-process stores, used to split a run by layer.

Everything here reads state Spark keeps anyway, with the UI off:

* the application status store (jobs, stages and their task metrics),
* ``QueryPlanningTracker`` phases of a query execution,
* ``StreamingQueryProgress`` of a streaming query.

One process runs one operation at a time, so the jobs an operation
launched are exactly the jobs whose ids lie between the highest job id
seen before it and the highest seen after it.
"""

from __future__ import annotations

import datetime as dt
import statistics


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def jobs_after(spark, after_job_id: int) -> list[int]:
    """Ids of the jobs launched after ``after_job_id``. The store lists jobs
    newest first, so the walk stops at the first older job."""
    out = []
    for job in _scala_iter(_store(spark).jobsList(None)):
        if int(job.jobId()) <= after_job_id:
            break
        out.append(int(job.jobId()))
    return out


def max_job_id(spark) -> int:
    jobs = _store(spark).jobsList(None)
    return int(jobs.head().jobId()) if jobs.nonEmpty() else -1


def exec_stats(spark, job_ids) -> dict:
    """Execution counts of the given jobs. Stages that a job skipped because
    their shuffle output already existed carry no task metrics and are not
    counted."""
    store = _store(spark)
    stage_ids = {int(s) for j in job_ids for s in _scala_iter(store.job(j).stageIds())}
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "task_run_ms", "shuffle_write_bytes",
         "shuffle_read_bytes", "spill_bytes", "input_records"),
        0,
    )
    out["jobs"] = len(job_ids)
    for sid in sorted(stage_ids):
        st = store.lastStageAttempt(sid)
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += int(st.numCompleteTasks())
        out["task_run_ms"] += int(st.executorRunTime())
        out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
        out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        out["input_records"] += int(st.inputRecords())
    return out


def planning_ms(jquery_execution) -> dict:
    """Catalyst phase durations of one query execution, in ms."""
    out = {"analysis": 0, "optimization": 0, "planning": 0}
    for pair in _scala_iter(jquery_execution.tracker().phases()):
        if pair._1() in out:
            out[pair._1()] = int(pair._2().durationMs())
    return out


def progress_end_ms(p: dict) -> float:
    """Wall-clock end of a micro-batch (trigger start plus its execution
    time) as epoch milliseconds. ``timestamp`` has millisecond resolution."""
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc)
    return start.timestamp() * 1000.0 + p["durationMs"].get("triggerExecution", 0)


_DURATIONS = {
    "source.latest_offset_ms": "latestOffset",
    "source.get_batch_ms": "getBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}


def progress_layers(progresses: list[dict]) -> dict:
    """Per micro-batch medians of the progress breakdown. Only batches that
    read data count; the idle polls in between carry no work."""
    batches = [p for p in progresses if p.get("numInputRows", 0) > 0]
    out = {}
    for name, key in _DURATIONS.items():
        out[name] = _median([p["durationMs"].get(key, 0) for p in batches])
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    out["streaming.state_commit_ms"] = _median([o.get("commitTimeMs", 0) for o in ops])
    out["streaming.state_update_ms"] = _median([o.get("allUpdatesTimeMs", 0) for o in ops])
    out["streaming.state_memory_bytes"] = _median([o.get("memoryUsedBytes", 0) for o in ops])
    return out


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0
