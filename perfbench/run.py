"""Benchmark entry point: one workload, one fresh process, closed loop.

    python3 perfbench/run.py --workload verdict_scan --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. The run starts Spark, prepares the
workload's seeded inputs (untimed, cached under ``perfbench/_cache``),
warms up with a fixed number of untimed passes, then issues one operation
at a time for ``--seconds`` of measured time. Every operation's output is
checked outside the timed region. ``setup_s`` is the median of several
set-ups, each from process start to session ready (see ``run``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics (see
``tracing.py``). The last stdout line is the result object; the line before
it is a detail record (environment, quartiles, per-operation timings),
also written under ``perfbench/_results``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from harness import (RESULTS_DIR, ROOT, WORK_DIR, MemSampler,  # noqa: E402
                     closed_loop, cores, run_pass, summarize)

SETUP_REPS = 3


def process_age_s() -> float:
    """Seconds since this process started (``/proc``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def versions() -> dict[str, str]:
    import duckdb
    import numpy
    import pyarrow
    import pyspark
    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
            "numpy": numpy.__version__}


def check_passes(wl, passes) -> tuple[int, int, list[str]]:
    attempted, errors = 0, []
    for p in passes:
        for r in p.ops:
            attempted += 1
            err = r.error or wl.check(r)
            if err:
                errors.append(f"{r.name}: {err}")
    return attempted, len(errors), errors


def per_op(passes) -> dict[str, dict]:
    by: dict[str, list[float]] = {}
    for p in passes:
        for r in p.ops:
            by.setdefault(r.name, []).append(r.seconds)
    return {k: summarize(v) for k, v in by.items()}


def run(args, work: str) -> tuple[dict, dict]:
    import json_skema_spark  # noqa: F401  (its import is part of the launch)
    from workloads import WORKLOADS
    wl = WORKLOADS[args.workload](args.seed, work)
    import_s = process_age_s()

    # A set-up is process start to session ready, leaving out the input
    # build: the launch (interpreter start-up, every import, JVM launch,
    # the first session), then a job on every core (and the Python
    # workers) and the inputs opened. A process launches once, so the
    # launch is measured once; the rest is measured on the first session
    # and again on new sessions in the same JVM. Each set-up is the launch
    # plus one of those.
    t0 = time.perf_counter()
    spark = harness.start_session(work)
    launch_s = import_s + time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare(spark)
    prepare_s = time.perf_counter() - t0

    def ready_s(spark) -> float:
        t0 = time.perf_counter()
        harness.warm_workers(spark, wl.PYTHON_WORKERS)
        wl.open(spark)
        return time.perf_counter() - t0

    ready = [ready_s(spark)]
    for _ in range(SETUP_REPS - 1):
        spark.stop()
        t0 = time.perf_counter()
        spark = harness.start_session(work)
        ready.append(time.perf_counter() - t0 + ready_s(spark))
    setups = [launch_s + r for r in ready]

    # a traced run compares one untraced and one traced pass or a few, so
    # it warms up once more, until the passes no longer speed up
    t0 = time.perf_counter()
    warm = [run_pass(wl.make_pass(k))
            for k in range(wl.WARMUP_PASSES + args.trace)]
    warmup_s = time.perf_counter() - t0
    for p in warm:
        for r in p.ops:
            if r.error:
                raise RuntimeError(f"warm-up {r.name} failed: {r.error}")
    # set-up and warm-up garbage is not left for the measured passes
    spark.sparkContext._jvm.System.gc()

    if args.trace:
        # untraced and traced passes alternate, so both see the same warmth
        import tracing
        tracer = tracing.Tracer(spark)
        traced_pass = tracer.wrap_pass(wl.make_pass)
        untraced, traced = [], []
        deadline = time.perf_counter() + args.seconds
        while not traced or time.perf_counter() < deadline:
            k = len(untraced) + len(traced)
            untraced.append(run_pass(wl.make_pass(k)))
            with tracer:
                traced.append(run_pass(traced_pass(k + 1)))
        passes = untraced + traced
        metrics = tracer.layer_metrics(wl, untraced, traced)
        peak = None
    else:
        with MemSampler() as mem:
            passes = closed_loop(wl.make_pass, args.seconds)
        wall = statistics.median([p.seconds for p in passes])
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "items_per_s": {"value": wl.items_per_pass / wall, "unit": "1/s"},
            "peak_rss_mb": {"value": mem.peak_mb, "unit": "MB"},
        }
        peak = mem.peak_mb

    attempted, failed, errors = check_passes(wl, passes)
    final = wl.final_checks()
    errors += final
    failed += len(final)
    spark.stop()

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores(), "master": f"local[{cores()}]",
        "driver_memory_gb": harness.driver_mem_gb(), "versions": versions(),
        "items_per_pass": wl.items_per_pass, "import_s": import_s,
        "launch_s": launch_s,
        "prepare_s": prepare_s, "setup_s": setups, "warmup_s": warmup_s,
        "wall_s": summarize([p.seconds for p in passes]),
        "pass_s": [p.seconds for p in warm + passes],
        "ops": per_op(passes), "peak_rss_mb": peak, "errors": errors[:20],
    }
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["verdict_scan", "schema_corpus", "clips_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "json_skema_spark")):
        print(f"perfbench: no json_skema_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(WORK_DIR, f"run{os.getpid()}")
    harness.prepare_env(work)
    try:
        result, detail = run(args, work)
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(RESULTS_DIR, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    with open(os.path.join(RESULTS_DIR, name), "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
