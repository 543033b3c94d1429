#!/usr/bin/env python
"""Per-round benchmark: time every registered query at $SPARK_GRAFT_SF_DIR.

Prints ONE COMPACT JSON line (the round driver keeps only an ~8 KB tail, so
the summary must fit well under that):
  {"metric": "suite_seconds", "value": N, "unit": "sec", "sf": 0.1,
   "queries": {...top slowest only...}, "n_queries": 98, "detail": "BENCH_DETAIL.json"}

The full per-query timing map is written to BENCH_DETAIL.json at the repo
root so nothing is lost to the driver's tail-truncation.

Each query is executed end-to-end with the ``noop`` sink so the whole physical
plan runs (scan -> shuffle -> agg) without paying Py4J collect() transfer for
large results — timings reflect engine work, not driver serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from spark_kinesis_sql_asl_spark.registry import all_queries  # noqa: E402
from spark_kinesis_sql_asl_spark.session import get_session  # noqa: E402


# Shared-state families pre-warmed once per run (round-7 verdict item #1)
# and the codegen warm-up contract (round 13): module-level constants so
# tests/test_bench_contract.py can pin the composition — the rate gate
# excludes `_shared_build_*` rows, so what those rows are allowed to
# contain must be test-asserted, not just prose (VERDICT r13 item #4).
_FAMILY_WARMUP = (
    "q_llm_dedup_jaccard",
    "q_llm_dedup_containment",
    "q_llm_substring_dup",
    "q_llm_dedup_cluster",
    "q_llm_dedup_semantic",
    # round 13: the portable-permutation signature barrier shared by
    # C3/C126/C140/C143 (VERDICT r12 item #2) — first consumer pays it
    "q_llm_dedup_minhash",
)
# The codegen warm-up row may ONLY run the declared pair families at this
# tiny fixture — never the timed sf_dir (that would migrate real work into
# the rate-excluded row).
_WARMUP_SF_DIR = "/root/testdata/sf0.001"


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("bench")
    queries = all_queries()
    if sys.argv[1:]:  # isolation re-bench: `python bench.py q_a q_b ...`
        queries = {n: queries[n] for n in sys.argv[1:]}

    # Warm up the JVM + parquet footer cache so query #1 isn't charged for
    # session start-up (the 100 TB analog: long-lived cluster, amortized init).
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    def run_one(name: str) -> float:
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    timings: dict[str, float] = {}
    failures: dict[str, str] = {}

    # Shared-state attribution (round-7 verdict what's-wrong #1): several
    # families hold cross-query state in tables.get_or_build, per Spark
    # application and fixture files — PPJoin scored pairs (C2/C116), the
    # containment index (C82/C82s), the substring-dup span cache
    # (C110/C111), the CC label parquet (C21/C38), and the
    # trained-centroid/probe state (C77/C125/C127). Whichever family
    # member ran first used to be booked the WHOLE build cost, so its
    # per-query ledger entry was ~2-3x its steady-state time and the
    # regression gate compared noise. Pre-warm each family once here and
    # record the build as its own visible `_shared_build_*` row: the cost
    # still counts toward the suite total, the per-query rows now measure
    # steady-state, and a build-cost regression shows up under its own name.
    # Codegen warm-up (round 13): a fresh JVM charges the FIRST pair-family
    # build ~5-6 s of one-time whole-stage-codegen JIT (measured: the
    # Jaccard build is 12.6 s cold vs 6.8 s after one tiny-SF run of the
    # same plan — scripts/run_decade_sf1.py has used this protocol since
    # round 12). A 100 TB deployment runs these plans on a long-lived
    # cluster where JIT is amortized to zero, so the bench runs each family
    # once at sf0.001 first and books the whole pass as its own
    # `_shared_build_codegen_warmup` row — visible, attributed, and
    # excluded from the per-query rate like every other shared build.
    # ADVICE r13: if the warm-up fixture is missing or a warm-up pass
    # raises, SKIP the row (and say so) instead of booking a near-zero
    # timing that silently pushes the JIT cost back into the first
    # family's timed row.
    warm_names = [n for n in _FAMILY_WARMUP if n in queries]
    if not os.path.isdir(_WARMUP_SF_DIR):
        print(
            f"warmup fixture {_WARMUP_SF_DIR} missing — skipping"
            " _shared_build_codegen_warmup (JIT lands in the first"
            " family's timed row)",
            file=sys.stderr,
        )
    elif not warm_names:
        pass  # isolation re-bench without a pair family: no row to book
    else:
        t0 = time.perf_counter()
        warmed_ok = True

        def _warm_one(name: str) -> None:
            queries[name](spark, _WARMUP_SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()

        # Round 14 (guide §2.6): the six family warm-ups are independent
        # jobs over the tiny fixture whose cost is one-time plan compile +
        # JIT, so OVERLAP them — one thread per family keeps the scheduler
        # busy while another family's plan compiles. Measured fresh-JVM
        # A/B on the identical composition: 22.1 s serial, 11.9 s with 3
        # threads, 10.3 s with one thread per family. Safe to overlap:
        # all family state lives in tables.get_or_build, one store keyed
        # on the family and the corpus directory, whose lock guards only
        # the dict (builds run outside it, so nested builds never
        # deadlock), scratch/staging dirs are uuid-unique per call, and
        # the composition/fixture contract (only _FAMILY_WARMUP names,
        # only _WARMUP_SF_DIR) is unchanged and still test-pinned.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(warm_names)) as pool:
            futures = {
                pool.submit(_warm_one, name): name for name in warm_names
            }
            for fut, name in futures.items():
                try:
                    fut.result()
                except Exception as exc:  # noqa: BLE001 - timed pass re-reports
                    warmed_ok = False
                    print(
                        f"warmup pass {name} raised"
                        f" ({type(exc).__name__}: {exc}) — skipping"
                        " _shared_build_codegen_warmup row"[:300],
                        file=sys.stderr,
                    )
        if warmed_ok:
            timings["_shared_build_codegen_warmup"] = round(
                time.perf_counter() - t0, 3
            )

    for name in _FAMILY_WARMUP:
        if name not in queries:
            continue
        try:
            timings[f"_shared_build_{name}"] = run_one(name)
        except Exception as exc:  # noqa: BLE001 - the timed pass re-reports
            failures[f"_shared_build_{name}"] = f"{type(exc).__name__}: {exc}"[:200]

    for name in sorted(queries):
        try:
            timings[name] = run_one(name)
        except Exception as exc:  # noqa: BLE001 - report, don't abort the suite
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]

    # Self-adjudicating contention rule (round-4 verdict item 6): any query
    # whose first-pass time leaves the ±25%/0.5s box-variance band vs the
    # last committed snapshot is re-run once after the full sweep (quiet
    # JVM, caches warm) and scored as the RERUN — the second measurement
    # is the quiet-box one, so a marginal REAL regression still shows up
    # in it instead of being masked by min() (VERDICT r14 what's-wrong
    # #4). Both measurements are recorded so the adjudication is
    # auditable in BENCH_DETAIL.json, and a rerun still >1.1x the
    # snapshot is called out on stderr as a suspected real regression.
    rebench: dict[str, dict[str, float]] = {}
    if not sys.argv[1:]:
        import glob

        snaps = sorted(glob.glob(os.path.join(_REPO_DIR, "BENCH_DETAIL_r*.json")))
        if snaps:
            with open(snaps[-1]) as f:
                old = json.load(f)["queries"]
            flagged = [
                n
                for n, t in timings.items()
                if n in old
                and (t > old[n] * 1.25 and t - old[n] > 0.5)
            ]
            for name in sorted(flagged):
                try:
                    rerun = run_one(name)
                except Exception:  # noqa: BLE001 - keep the first measurement
                    continue
                rebench[name] = {
                    "first": timings[name],
                    "rerun": rerun,
                    "snapshot": old[name],
                }
                # A rerun far BELOW the band is as untrustworthy as the
                # high first pass: queries with process-lifetime memoized
                # family state (dbscan labels, semantic state, PPJoin
                # pairs) measure the warm memo on the second call, not
                # the query (a genuinely improved query never enters this
                # branch — entering requires first >> snapshot). Keep the
                # first (contended) measurement then: pessimistic, never
                # flattering.
                if rerun < old[name] * 0.75 - 0.5:
                    rebench[name]["scored"] = "first (rerun hit warm memo)"
                    print(
                        f"rebench: {name} rerun {rerun:.3f}s is far below"
                        f" the snapshot {old[name]:.3f}s — warm memoized"
                        " state, keeping the first measurement",
                        file=sys.stderr,
                    )
                    continue
                timings[name] = rerun
                if rerun > old[name] * 1.1:
                    print(
                        f"rebench: {name} rerun {rerun:.3f}s is still"
                        f" >1.1x the snapshot {old[name]:.3f}s —"
                        " suspected real regression, not contention",
                        file=sys.stderr,
                    )

    # Streaming-twin smoke (VERDICT r11 item #6): time each stateful twin's
    # availableNow drain so a state-store regression shows up as a number.
    # Timed into its own block — twin seconds do NOT enter the batch
    # suite_seconds total (the rate gate's denominator is batch queries).
    streaming: dict[str, float] = {}
    if not sys.argv[1:] and os.environ.get("SPARK_GRAFT_SKIP_STREAMING") != "1":
        import shutil
        import tempfile

        from spark_kinesis_sql_asl_spark.streaming.bench_twins import (
            run_streaming_bench,
        )

        work_root = tempfile.mkdtemp(prefix="bench_twins_")
        try:
            streaming = run_streaming_bench(spark, sf_dir, work_root)
        except Exception as exc:  # noqa: BLE001 - report, don't abort the suite
            failures["_streaming_twins"] = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            shutil.rmtree(work_root, ignore_errors=True)

    detail = {
        "metric": "suite_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "streaming": streaming,
        "streaming_seconds": round(sum(streaming.values()), 3),
        "sf": _sf_of(sf_dir),
    }
    if failures:
        detail["failures"] = failures
    if rebench:
        detail["rebench"] = rebench
    if not sys.argv[1:]:  # isolation runs must not clobber the round record
        detail_path = os.path.join(_REPO_DIR, "BENCH_DETAIL.json")
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)

    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    out = {
        "metric": "suite_seconds",
        "value": detail["value"],
        "unit": "sec",
        "sf": detail["sf"],
        "n_queries": len(timings),
        "n_failures": len(failures),
        "queries": slowest,
        "detail": "BENCH_DETAIL.json",
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
