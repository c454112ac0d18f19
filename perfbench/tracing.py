"""Per-layer tracing, measured from outside the package.

While a ``Tracer`` is active it wraps the public functions each layer is
reached through (module and class attributes, restored on exit) and records
a span around every call, in memory. It counts py4j commands per span, with
garbage-collection (``m``) commands excluded. After the traced passes it
reads every SQL execution of the window from Spark's status store (live
even with the UI off), attaches each one as a child span of the innermost
Python span that contains it, and sums the plan's SQL metrics by layer.

A span's self time is its duration minus the union of its children's
intervals, so the self times of one operation add up to its duration.
"""

from __future__ import annotations

import functools
import math
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from harness import PassResult


@dataclass
class Span:
    name: str
    layer: str
    t0: float
    t1: float = 0.0
    parent: "Span | None" = None
    children: list["Span"] = field(default_factory=list)
    calls: int = 0          # py4j commands issued inside, children included
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def self_time(self) -> float:
        covered, end = 0.0, self.t0
        for c in sorted(self.children, key=lambda c: c.t0):
            lo, hi = max(c.t0, end), min(c.t1, self.t1)
            if hi > lo:
                covered += hi - lo
                end = hi
        return self.dur - covered

    def self_calls(self) -> int:
        return self.calls - sum(c.calls for c in self.children)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.roots: list[Span] = []
        self.stack: list[Span] = []
        self.counting = False
        self.calls = 0
        self._undo: list[tuple[Any, str, Any]] = []
        self._exec_floor: int | None = None

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self.stack[-1] if self.stack else None
        s = Span(name, layer, time.time(), parent=parent)
        (parent.children if parent else self.roots).append(s)
        self.stack.append(s)
        c0 = self.calls
        try:
            yield s
        finally:
            s.t1 = time.time()
            s.calls = self.calls - c0
            self.stack.pop()

    @contextmanager
    def uncounted(self):
        prior, self.counting = self.counting, False
        try:
            yield
        finally:
            self.counting = prior

    def wrap_pass(self, make_pass):
        """Each operation's timed ``run`` becomes a root span."""
        def make(k: int):
            ops = make_pass(k)
            for op in ops:
                op.run = self._op_runner(op.name, op.run)
            return ops
        return make

    def _op_runner(self, name, fn):
        def run():
            with self.span(name, "op"):
                return fn()
        return run

    # -- patching ------------------------------------------------------------

    def _patch(self, owner, attr: str, layer: str, *, outermost: bool = False,
               before=None, after=None) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if outermost and any(s.layer == layer for s in tracer.stack):
                return orig(*a, **kw)
            with tracer.span(attr, layer) as sp:
                if before:
                    a, kw = before(sp, a, kw)
                out = orig(*a, **kw)
                if after:
                    after(sp, a, out)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def _count_py4j(self) -> None:
        from pyspark import SparkContext
        client = SparkContext._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(command, *a, **kw):
            # only inside timed operations; GC (``m``) commands excluded
            if tracer.counting and tracer.stack and tracer.stack[0].layer == "op" \
                    and not command.startswith("m\n"):
                tracer.calls += 1
            return orig(command, *a, **kw)

        client.send_command = send_command
        self._undo.append((client, "send_command", None))

    def _phases_after(self, sp: Span, a, _out) -> None:
        """Catalyst phase times of the action's own QueryExecution."""
        with self.uncounted():
            sp.attrs["phases"] = _phases(a[0]._jdf.queryExecution())

    def _phases_before_write(self, sp: Span, a, kw):
        """A write plans a command of its own, out of reach from Python, so
        the written DataFrame's query is planned once here, in a ``trace``
        span that is reported as overhead."""
        with self.span("plan probe", "trace"), self.uncounted():
            qe = a[0]._df._jdf.queryExecution()
            qe.executedPlan()
            sp.attrs["phases"] = _phases(qe)
        return a, kw

    def _wrap_process(self, sp: Span, a, kw):
        """``run_resumable``'s per-bucket callback becomes a span."""
        a = list(a)
        process = a[4]

        def traced_process(bucket_df, bucket):
            with self.span(f"bucket {bucket}", "commit.bucket"):
                return process(bucket_df, bucket)

        a[4] = traced_process
        return tuple(a), kw

    def __enter__(self) -> "Tracer":
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from json_skema_spark import runner
        from json_skema_spark.functions import audio, text
        from json_skema_spark.operators import (checkpoint, dedup, referential, stats,
                                                uniqueness)
        from json_skema_spark.plans import compile as pcompile
        from json_skema_spark.plans import verdict as pverdict

        if self._exec_floor is None:
            self._exec_floor = self._max_execution_id()
        for attr in ("__init__", "compile_root", "compile_value"):
            self._patch(pcompile.Compiler, attr, "compile", outermost=True)
        for attr in ("apply", "violations", "summary"):
            self._patch(pverdict.ValidationPlan, attr, "verdict")
        for attr in ("collect", "toPandas"):
            self._patch(DataFrame, attr, "action", outermost=True,
                        after=self._phases_after)
        self._patch(DataFrame, "count", "action", outermost=True)
        for attr in ("save", "parquet"):
            self._patch(DataFrameWriter, attr, "action", outermost=True,
                        before=self._phases_before_write)
        self._patch(runner, "validate_table", "runner")
        self._patch(runner, "drift_report", "operator")
        self._patch(checkpoint, "stage_by_bucket", "commit.stage")
        self._patch(checkpoint, "run_resumable", "commit.buckets",
                    before=self._wrap_process)
        self._patch(checkpoint.PartitionManifest, "_flush", "commit.manifest")
        self._patch(uniqueness, "uniqueness_violations", "operator")
        self._patch(referential, "referential_violations", "operator")
        self._patch(audio, "audio_violations", "operator")
        for attr in ("profile", "mergeable_profile", "merge_profiles"):
            self._patch(stats, attr, "operator")
        self._patch(dedup, "exact_duplicates", "operator")
        for attr in ("language_id", "token_count"):
            self._patch(text, attr, "operator")
        self._count_py4j()
        self.counting = True
        return self

    def __exit__(self, *exc) -> None:
        self.counting = False
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    # -- SQL executions --------------------------------------------------------

    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _max_execution_id(self) -> int:
        execs = self._store().executionsList()
        n = execs.size()
        return max((execs.apply(i).executionId() for i in range(n)), default=-1)

    def _attach_executions(self) -> None:
        # the status store is fed asynchronously by the listener bus; an
        # execution whose end event is still queued would read as unfinished
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        store = self._store()
        execs = store.executionsList()
        found = []
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            done = e.completionTime()
            if eid <= self._exec_floor or not done.isDefined():
                continue
            s = Span(f"sql {eid}", "sql", e.submissionTime() / 1000.0,
                     done.get().getTime() / 1000.0)
            s.attrs["plan"] = read_plan(store, eid)
            found.append(s)
        # widest first, so a nested execution lands inside its parent
        for s in sorted(found, key=lambda s: -s.dur):
            parent = _innermost(self.roots, s)
            if parent is not None:
                s.parent = parent
                parent.children.append(s)

    # -- per-layer metrics ------------------------------------------------------

    def layer_metrics(self, wl, untraced: list[PassResult],
                      traced: list[PassResult]) -> dict[str, dict]:
        self._attach_executions()
        # only what ran inside timed operations; untimed prep and output
        # checks of traced passes leave root spans of their own
        spans = list(_walk([r for r in self.roots if r.layer == "op"]))
        n = len(traced)
        m = Metrics(n)

        compiles = [s for s in spans if s.layer == "compile"]
        m.add("compile.s", sum(s.dur for s in compiles), "s")
        m.add("compile.jvm_calls", sum(s.calls for s in compiles), "count")
        schemas = [s for s in compiles if s.name != "__init__"]
        m.add("compile.schemas", len(schemas), "count")
        ms = sorted(s.dur * 1000 for s in schemas)
        m.put("compile.p50_ms", statistics.median(ms) if ms else 0.0, "ms")
        m.put("compile.p97_ms",
              ms[min(len(ms) - 1, math.ceil(0.97 * len(ms)) - 1)] if ms else 0.0, "ms")

        verdicts = [s for s in spans if s.layer == "verdict"]
        m.add("verdict.lower_s", sum(s.self_time() for s in verdicts), "s")
        m.add("verdict.jvm_calls", sum(s.self_calls() for s in verdicts), "count")

        actions = [s for s in spans if s.layer == "action"]
        m.add("action.self_s", sum(s.self_time() for s in actions), "s")
        for ph in ("analysis", "optimization", "planning"):
            m.add(f"catalyst.{ph}_ms",
                  sum(s.attrs.get("phases", {}).get(ph, 0) for s in actions), "ms")

        sqls = [s for s in spans if s.layer == "sql"]
        m.add("spark.sql_executions", len(sqls), "count")
        m.add("spark.exec_s", sum(s.self_time() for s in sqls), "s")
        plan = PlanTotals()
        for s in sqls:
            plan.add(s.attrs["plan"])
        for k, (v, unit) in plan.as_metrics().items():
            m.add(k, v, unit)
        m.put("agg.peak_memory_bytes", plan.peak_memory, "bytes")
        m.put("python.sent_per_scan_byte",
              plan.python_sent / plan.scan_bytes if plan.scan_bytes else 0.0, "ratio")

        self._commit_metrics(m, spans, wl, untraced)

        ops = [s for s in spans if s.layer == "op"]
        probes = [s for s in spans if s.layer == "trace"]
        m.add("trace.unattributed_s", sum(s.self_time() for s in ops), "s")
        m.add("trace.probe_s", sum(s.dur for s in probes), "s")
        m.add("trace.self_sum_s", sum(s.self_time() for s in spans), "s")
        m.add("trace.jvm_calls", self.calls, "count")
        wall_t = statistics.median([p.seconds for p in traced])
        wall_u = statistics.median([p.seconds for p in untraced])
        m.put("trace.wall_s", wall_t, "s")
        m.put("trace.untraced_wall_s", wall_u, "s")
        m.put("trace.overhead_pct", 100.0 * (wall_t / wall_u - 1.0), "%")
        return m.out

    def _commit_metrics(self, m: "Metrics", spans: list[Span], wl,
                        untraced: list[PassResult]) -> None:
        stage = [s for s in spans if s.layer == "commit.stage"]
        m.add("commit.stage_s", sum(s.dur for s in stage), "s")
        m.add("commit.buckets_s",
              sum(s.dur for s in spans if s.layer == "commit.bucket"), "s")
        glob_s = 0.0
        for r in (s for s in spans if s.layer == "runner"):
            rr = [c for c in r.children if c.layer == "commit.buckets"]
            if rr:
                glob_s += r.t1 - rr[-1].t1
        m.add("commit.global_s", glob_s, "s")
        staged = PlanTotals()
        for s in stage:
            if s.parent is not None and s.parent.layer == "commit.buckets":
                for c in _walk(s.children):
                    if c.layer == "sql":
                        staged.add(c.attrs["plan"])
        m.put("commit.staged_per_input_byte",
              staged.written_bytes / staged.scan_bytes if staged.scan_bytes else 0.0,
              "ratio")
        m.add("commit.manifest_commits",
              sum(1 for s in spans if s.layer == "commit.manifest"), "count")
        # the resume's own time from the untraced passes, free of overhead
        resume_s = [r.seconds for p in untraced for r in p.ops if r.name == "resume"]
        m.put("commit.resume_s", statistics.median(resume_s) if resume_s else 0.0, "s")
        resumes = [s for s in spans if s.layer == "op" and s.name == "resume"]
        m.add("resume.buckets_rerun", sum(
            1 for r in resumes for s in _walk(r.children) if s.layer == "commit.bucket"),
            "count")
        rplan = PlanTotals()
        for r in resumes:
            for s in _walk(r.children):
                if s.layer == "sql":
                    rplan.add(s.attrs["plan"])
        m.add("resume.scan_bytes", rplan.scan_bytes, "bytes")
        m.put("commit.out_bytes_per_in_byte", getattr(wl, "out_per_in", 0.0), "ratio")


class Metrics:
    """Per-pass values: ``add`` divides a traced-window total by the number
    of traced passes; ``put`` stores a value as is."""

    def __init__(self, passes: int):
        self.passes = passes
        self.out: dict[str, dict] = {}

    def add(self, name: str, total: float, unit: str) -> None:
        self.put(name, total / self.passes, unit)

    def put(self, name: str, value: float, unit: str) -> None:
        self.out[name] = {"value": float(value), "unit": unit}


def _walk(spans):
    for s in spans:
        yield s
        yield from _walk(s.children)


def _innermost(roots: list[Span], e: Span, tol: float = 0.005) -> Span | None:
    best = None
    level = roots
    while True:
        nxt = [s for s in level
               if s is not e and s.t0 - tol <= e.t0 and e.t1 <= s.t1 + tol]
        if not nxt:
            return best
        best = nxt[0]
        level = best.children


def _phases(qe) -> dict[str, int]:
    ph = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        o = ph.get(k)
        if o.isDefined():
            out[k] = o.get().durationMs()
    return out


# -- SQL plan graphs -----------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
          "ns": 1e-6}
_VALUE = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
# plan nodes that only frame the query: not counted as interpreted operators
_FRAMING = ("AdaptiveSparkPlan", "ResultQueryStage", "ShuffleQueryStage",
            "BroadcastQueryStage", "TableCacheQueryStage", "AQEShuffleRead",
            "Exchange", "BroadcastExchange", "WriteFiles", "Execute ",
            "OverwriteByExpression", "AppendData", "CommandResult",
            "LocalTableScan", "Scan ")


def _value(text: str) -> float:
    """A metric as the status store renders it: ``1,234`` for sums, or a
    ``total (min, med, max ...)`` header line followed by the total."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _seq(s):
    return (s.apply(i) for i in range(s.size()))


def read_plan(store, eid: int) -> dict:
    """Nodes (name, description, metric values, in-codegen flag) and
    whole-stage codegen clusters (duration) of one execution's plan graph,
    walked through py4j."""
    values = {}
    it = store.executionMetrics(eid).iterator()
    while it.hasNext():
        kv = it.next()
        values[kv._1()] = kv._2()

    def metrics(node) -> dict[str, float]:
        return {m.name(): _value(values.get(m.accumulatorId(), ""))
                for m in _seq(node.metrics())}

    nodes, clusters = [], []

    def visit(seq, codegen: bool) -> None:
        for nd in _seq(seq):
            name = nd.name()
            if nd.getClass().getSimpleName() == "SparkPlanGraphCluster":
                clusters.append({"name": name, "duration_ms":
                                 metrics(nd).get("duration", 0.0)})
                visit(nd.nodes(), name.startswith("WholeStageCodegen"))
            else:
                nodes.append({"name": name, "desc": nd.desc(),
                              "metrics": metrics(nd), "codegen": codegen})

    visit(store.planGraph(eid).nodes(), False)
    return {"nodes": nodes, "clusters": clusters}


def _read_schema_width(desc: str) -> int:
    m = re.search(r"ReadSchema: struct<(.*)>", desc)
    if not m or not m.group(1):
        return 0
    depth, width = 0, 1
    for ch in m.group(1):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            width += 1
    return width


class PlanTotals:
    """SQL-metric sums over executions, by layer."""

    def __init__(self):
        self.scan_bytes = self.scan_ms = self.scan_rows = self.columns = 0.0
        self.codegen_ms = 0.0
        self.python_ms = self.python_boot_ms = self.python_sent = 0.0
        self.python_received = self.python_rows = 0.0
        self.shuffle_bytes = self.shuffle_write_ms = 0.0
        self.peak_memory = self.spill = 0.0
        self.written_bytes = self.files_written = 0.0
        self.nodes = self.interpreted = 0

    def add(self, plan: dict) -> None:
        for c in plan["clusters"]:
            self.codegen_ms += c["duration_ms"]
        for nd in plan["nodes"]:
            name, mt = nd["name"], nd["metrics"]
            self.nodes += 1
            if not nd["codegen"] and not name.startswith(_FRAMING):
                self.interpreted += 1
            if name.startswith("Scan "):
                self.scan_bytes += mt.get("size of files read", 0.0)
                self.scan_ms += mt.get("scan time", 0.0)
                self.scan_rows += mt.get("number of output rows", 0.0)
                self.columns += _read_schema_width(nd["desc"])
            if "data sent to Python workers" in mt:
                self.python_ms += mt.get("time to run Python workers", 0.0)
                self.python_boot_ms += (mt.get("time to start Python workers", 0.0)
                                        + mt.get("time to initialize Python workers", 0.0))
                self.python_sent += mt["data sent to Python workers"]
                self.python_received += mt.get("data returned from Python workers", 0.0)
                self.python_rows += mt.get("number of output rows", 0.0)
            if name == "Exchange":
                self.shuffle_bytes += mt.get("shuffle bytes written", 0.0)
                self.shuffle_write_ms += mt.get("shuffle write time", 0.0)
            self.peak_memory = max(self.peak_memory, mt.get("peak memory", 0.0))
            self.spill += mt.get("spill size", 0.0)
            self.written_bytes += mt.get("written output", 0.0)
            self.files_written += mt.get("number of written files", 0.0)

    def as_metrics(self) -> dict[str, tuple[float, str]]:
        return {
            "catalyst.plan_nodes": (self.nodes, "count"),
            "catalyst.interpreted_nodes": (self.interpreted, "count"),
            "scan.files_bytes": (self.scan_bytes, "bytes"),
            "scan.time_ms": (self.scan_ms, "ms"),
            "scan.rows": (self.scan_rows, "count"),
            "scan.columns_read": (self.columns, "count"),
            "eval.pipeline_ms": (max(0.0, self.codegen_ms - self.scan_ms), "ms"),
            "python.total_ms": (self.python_ms, "ms"),
            "python.boot_ms": (self.python_boot_ms, "ms"),
            "python.bytes_sent": (self.python_sent, "bytes"),
            "python.bytes_received": (self.python_received, "bytes"),
            "python.rows": (self.python_rows, "count"),
            "exchange.shuffle_bytes": (self.shuffle_bytes, "bytes"),
            "exchange.shuffle_write_ms": (self.shuffle_write_ms, "ms"),
            "agg.peak_memory_bytes": (self.peak_memory, "bytes"),
            "agg.spill_bytes": (self.spill, "bytes"),
            "commit.files_written": (self.files_written, "count"),
            "commit.written_bytes": (self.written_bytes, "bytes"),
        }
