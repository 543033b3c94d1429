"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in one process on ``local[4]``, checks every output
against a computation made without Spark, and prints as its last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
they are the per-layer metrics, which are also written with the run's
per-operation records to ``perfbench/out/``. The line before it reports a
fixed CPU probe timed at the start and at the end of the run; it is not a
metric but makes a slow phase of the host visible.

Workloads: ``kinesis`` (``kinesis.py``) and ``analytics`` (``analytics.py``).
See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Metric names and units, as BENCHMARK.json at the checkout root defines them.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

CPUS = "4"


def cpu_probe_ms() -> float:
    """A fixed pure-Python loop, in ms; the median of three passes."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        times.append((time.perf_counter() - t) * 1000.0)
    return sorted(times)[1]


class Run:
    """State of one benchmark run: its arguments, scratch directory,
    session, operation counts and the layer figures the workload fills.

    Each operation is counted once, by ``record`` or by ``fail``. Both count
    it as failed; only ``record`` with problems (a wrong output) makes the
    run's ``correct`` false, as ``correct`` speaks of the outputs of the
    operations that did not raise."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.mismatches = 0
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.ops: list[dict] = []
        self.warmup_ops: list[dict] = []
        self.t_measure = None  # perf_counter() when set-up ended

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start(self, prepare=None):
        """Start the SparkSession while ``prepare`` makes the inputs in a
        second thread (session start mostly waits on the JVM). Returns
        ``prepare``'s result."""
        from spark_kinesis_sql_asl_spark.session import get_session

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(prepare) if prepare else None
            t = time.perf_counter()
            self.spark = get_session(f"perfbench-{self.workload}")
            self.layers["session.start_s"] = time.perf_counter() - t
            self.spark.sparkContext.setLogLevel("ERROR")
            self.log("session started")
            out = fut.result() if fut else None
            self.log("inputs ready")
            return out

    def setup_done(self) -> None:
        self.t_measure = time.perf_counter()
        self.metrics["setup_s"] = self.t_measure - T_START
        self.log("set-up done")

    def log(self, what: str) -> None:
        """A progress line on stderr, with the time since process start."""
        print(f"[perfbench {time.perf_counter() - T_START:7.2f} s] {what}",
              file=sys.stderr, flush=True)

    def record(self, problems: list[str], what: str) -> None:
        """Count one operation; any problem makes it a failed one."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.mismatches += 1
            print(f"MISMATCH {what}: " + "; ".join(problems[:5]), file=sys.stderr)

    def fail(self, what: str, exc: BaseException) -> None:
        """Count one operation that raised before its output was checked."""
        self.attempted += 1
        self.failed += 1
        print(f"FAILED {what}: {type(exc).__name__}: {exc}", file=sys.stderr)


def _isolate_scratch(work: str) -> None:
    """Keep every file Spark, its Python workers and the program write
    inside the run's scratch directory, and fix the session's settings."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers unpickle the kinesislike source by module name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _stop(run: Run) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    run.spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import analytics
        import kinesis
    except ImportError as exc:
        print(f"perfbench: cannot import the program ({exc}); run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    workloads = {
        "kinesis": kinesis.kinesis,
        "analytics": analytics.analytics,
    }
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads)}", file=sys.stderr)
        return 2

    run = Run(args)
    _isolate_scratch(run.work)
    probe_start = cpu_probe_ms()
    try:
        workloads[args.workload](run)
        run.log("checked")
    finally:
        try:
            _stop(run)
        finally:
            shutil.rmtree(run.work, ignore_errors=True)
    run.log("stopped")
    probe_end = cpu_probe_ms()

    if run.trace:
        names = PER_LAYER
        values = run.layers
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
            out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "layers": run.layers,
                       "end_to_end": run.metrics, "ops": run.ops,
                       "warmup_ops": run.warmup_ops}, f, indent=1)
    else:
        names = END_TO_END
        values = run.metrics
    print("probe " + json.dumps({"cpu_probe_start_ms": round(probe_start, 3),
                                 "cpu_probe_end_ms": round(probe_end, 3)}))
    print(json.dumps({
        "correct": run.mismatches == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u}
                    for n, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
