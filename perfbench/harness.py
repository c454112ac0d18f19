"""Measurement core shared by every workload: Spark session set-up sized to
the machine, the closed-loop timer, resident-memory sampling of the JVM and
its Python workers, and order statistics.

Nothing here starts a process or thread at import time.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
CACHE_DIR = os.path.join(BENCH_DIR, "_cache")
WORK_DIR = os.path.join(BENCH_DIR, "_work")
RESULTS_DIR = os.path.join(BENCH_DIR, "_results")


def cores() -> int:
    """Usable cores (what ``nproc`` reports without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def machine_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_gb() -> int:
    """An eighth of the machine, 1..4 GB: local mode runs every executor
    thread inside the driver heap, and the machine is shared."""
    return max(1, min(4, round(machine_mem_gb() / 8)))


def spark_conf(work: str) -> dict[str, str]:
    n = cores()
    tmp = os.path.join(work, "tmp")
    mem = f"{driver_mem_gb()}g"
    # A fixed heap, touched in full at start: with a growing one, how far
    # G1 happened to expand it (and how much of it was touched) decided
    # both the run's speed and its RSS.
    return {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": mem,
        "spark.driver.extraJavaOptions":
            f"-Xms{mem} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.catalogImplementation": "in-memory",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
    }


def prepare_env(work: str) -> None:
    """Environment the JVM and every Python worker inherit. Workers find
    the package through PYTHONPATH (a driver-side ``sys.path`` insert
    never reaches them), and every scratch file lands under ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str):
    from pyspark.sql import SparkSession
    b = SparkSession.builder
    for k, v in spark_conf(work).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, python: bool) -> None:
    """One JVM job on every core and, for workloads that run Python UDFs,
    one Python-worker job that imports the package in each worker."""
    from json_skema_spark.sources import clips as clips_src
    n = cores()
    spark.range(0, n * 8, 1, n).selectExpr("sum(id)").collect()
    if python:
        clips_src.clips_df(spark, 2 * n, audio=True, inject=True,
                           partitions=n).count()


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it: it exits on EOF of its stdin."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as exc:  # the JVM may already be gone
        print(f"gateway shutdown: {exc!r}", file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- resident memory ---------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants_mem_mb(root_pid: int) -> float:
    """Resident memory of every descendant of ``root_pid`` (the JVM, the
    Python worker daemon and its workers), as the sum of their proportional
    set sizes: the workers are forks of the daemon, and summing plain RSS
    would count the pages they share once per worker."""
    kids = _children_map()
    todo, total_kb = list(kids.get(root_pid, [])), 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class MemSampler:
    """Samples descendant memory every ``interval`` seconds while active."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendants_mem_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- the closed loop ---------------------------------------------------------

@dataclass
class Op:
    """One operation of a pass. ``prep`` and ``observe`` run untimed before
    and after the timed ``run``; ``observe``'s return value is what the
    workload's check inspects."""
    name: str
    run: Callable[[], Any]
    prep: Callable[[], None] | None = None
    observe: Callable[[Any], Any] | None = None


@dataclass
class OpResult:
    name: str
    seconds: float
    output: Any = None
    error: str | None = None


@dataclass
class PassResult:
    seconds: float
    ops: list[OpResult] = field(default_factory=list)


def run_pass(ops: list[Op]) -> PassResult:
    res = PassResult(0.0)
    for op in ops:
        if op.prep:
            try:
                op.prep()
            except Exception as exc:
                res.ops.append(OpResult(op.name, 0.0, None, f"preparation: {exc!r}"))
                continue
        t0 = time.perf_counter()
        try:
            raw, err = op.run(), None
        except Exception as exc:
            raw, err = None, repr(exc)
        secs = time.perf_counter() - t0
        res.seconds += secs
        if err is None and op.observe:
            try:
                raw = op.observe(raw)
            except Exception as exc:
                err = f"output check: {exc!r}"
        res.ops.append(OpResult(op.name, secs, raw, err))
    return res


def closed_loop(make_pass: Callable[[int], list[Op]],
                seconds: float) -> list[PassResult]:
    """One client, one operation at a time, whole passes until ``seconds``
    of measured time have elapsed (at least one pass)."""
    passes: list[PassResult] = []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        passes.append(run_pass(make_pass(len(passes))))
    return passes


# -- order statistics --------------------------------------------------------

def summarize(xs: list[float]) -> dict[str, Any]:
    """Median, quartiles, and the highest percentile above the median that
    still has at least ten samples beyond it (omitted when there is none)."""
    xs = sorted(xs)
    n = len(xs)
    out: dict[str, Any] = {"n": n, "median": statistics.median(xs)}
    if n >= 2:
        q = statistics.quantiles(xs, n=4)
        out["q1"], out["q3"] = q[0], q[2]
    tail = math.floor(100 * (1 - 10 / n)) if n > 10 else None
    if tail and tail > 50:
        out[f"p{tail}"] = xs[min(n - 1, math.ceil(n * tail / 100) - 1)]
    return out
