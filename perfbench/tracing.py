"""Tracing for the benchmark's traced run.

Spans are recorded from outside the engine: around the calls the
benchmark makes into it, and around engine methods wrapped for the
length of a traced run (``patched``).  Spark-side work is read afterwards
from Spark's own status stores and attributed to a batch by time window.
Nothing here runs in a measured (untraced) run.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    """In-memory spans: (name, start, end, parent index, trace id, attrs).
    Times are epoch seconds so they line up with Spark's timestamps."""

    def __init__(self, enabled: bool = True):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id: int | None = None
        self.py4j_calls = 0
        # off between traced batches, so their untraced neighbours give
        # the tracing overhead
        self.active = self.enabled = enabled
        # trace id -> the frame Router.execute returned in that batch
        self.frames: dict = {}

    def span(self, name: str, **attrs):
        return self._span(name, **attrs) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "trace": self.trace_id, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        calls0 = self.py4j_calls
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["py4j_calls"] = self.py4j_calls - calls0

    def add_root(self, name: str, trace_id, start: float, end: float) -> None:
        """A root span measured elsewhere (a stream trigger, from its
        progress); it adopts the trace's spans that have no parent."""
        idx = len(self.spans)
        for s in self.spans:
            if s["trace"] == trace_id and s["parent"] is None:
                s["parent"] = idx
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": None, "trace": trace_id})

    def self_times(self, trace_id) -> dict[str, float]:
        """Self time per span name within one trace: duration minus the
        part covered by its children (children never overlap here)."""
        spans = [s for s in self.spans if s["trace"] == trace_id]
        child = {id(s): 0.0 for s in spans}
        for s in spans:
            if s["parent"] is not None:
                p = self.spans[s["parent"]]
                if id(p) in child:
                    child[id(p)] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = (s["end"] - s["start"]) - child[id(s)]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def calls(self, trace_id, name: str) -> int:
        return sum(s.get("py4j_calls", 0) for s in self.spans
                   if s["trace"] == trace_id and s["name"] == name)


@contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Wrap ``getattr(owner, attr)`` in a span named ``name`` for the
    duration of the block; the originals are restored afterwards."""
    saved = []
    for owner, attr, name in targets:
        orig = owner.__dict__[attr]
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig

        def wrapper(*a, _fn=fn, _name=name, **kw):
            if not tracer.enabled:
                return _fn(*a, **kw)
            arg = kw.get("table", next(
                (x for x in a if isinstance(x, str)), None))
            with tracer._span(_name, arg=arg):
                result = _fn(*a, **kw)
            if _name == "router.execute":
                tracer.frames[tracer.trace_id] = result
            return result
        setattr(owner, attr,
                staticmethod(wrapper) if isinstance(orig, staticmethod)
                else wrapper)
        saved.append((owner, attr, orig))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


@contextmanager
def count_py4j(tracer: Tracer):
    """Count py4j round trips by wrapping the client connection's
    ``send_command``."""
    from py4j.clientserver import ClientServerConnection
    orig = ClientServerConnection.send_command

    def send_command(self, command, *a, **kw):
        if tracer.enabled:
            tracer.py4j_calls += 1
        return orig(self, command, *a, **kw)
    ClientServerConnection.send_command = send_command
    try:
        yield
    finally:
        ClientServerConnection.send_command = orig


# --------------------------------------------------------- Spark status ----

def _seq(s):
    it = s.iterator()
    while it.hasNext():
        yield it.next()


def _opt_epoch(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


_UNITS_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}
_UNITS_B = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A status-store metric string ('12 ms', '1.5 KiB', '100,000', or the
    multi-task 'total (min, med, max ...)\\n4.3 s (...)' form) -> its
    total in ms, bytes or count."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _UNITS_MS.get(unit, _UNITS_B.get(unit, 1.0))


# SQL plan-graph (node name prefix, metric name) -> per-layer metric
SQL_METRICS = {
    ("WholeStageCodegen", "duration"): "executor.wscg_ms",
    ("ArrowEvalPython", "time to run Python workers"): "executor.python_eval_ms",
    ("BatchEvalPython", "time to run Python workers"): "executor.python_eval_ms",
    ("Scan", "scan time"): "executor.scan_ms",
    ("Execute InsertIntoHadoopFsRelationCommand", "number of written files"):
        "sources.files_written",
    ("Execute InsertIntoHadoopFsRelationCommand", "written output"):
        "sources.bytes_written",
}


def spark_usage(spark, windows: dict) -> dict:
    """Per-window sums of Spark-side work, read from the SQL and app status
    stores.  ``windows`` maps a trace id to (start, end) epoch seconds; a
    SQL execution, job or stage belongs to the window its submission time
    falls in."""
    def owner(t):
        for key, (a, b) in windows.items():
            if t is not None and a <= t <= b:
                return key
        return None

    out = {k: {"executor.jobs": 0, "executor.tasks": 0,
               "executor.run_s": 0.0, "executor.cpu_s": 0.0,
               "executor.gc_s": 0.0, "executor.shuffle_write_bytes": 0,
               "executor.spill_bytes": 0,
               **{m: 0.0 for m in set(SQL_METRICS.values())}}
           for k in windows}
    sql = spark._jsparkSession.sharedState().statusStore()
    for e in _seq(sql.executionsList()):
        key = owner(e.submissionTime() / 1000.0)
        if key is None:
            continue
        values = sql.executionMetrics(e.executionId())
        for node in _seq(sql.planGraph(e.executionId()).allNodes()):
            for metric in _seq(node.metrics()):
                name = next((v for (prefix, mname), v in SQL_METRICS.items()
                             if node.name().startswith(prefix)
                             and metric.name() == mname), None)
                if name is None:
                    continue
                got = values.get(metric.accumulatorId())
                out[key][name] += parse_metric(
                    got.get() if got.isDefined() else None)
    app = spark._jsc.sc().statusStore()
    for job in _seq(app.jobsList(None)):
        key = owner(_opt_epoch(job.submissionTime()))
        if key is not None:
            out[key]["executor.jobs"] += 1
            out[key]["executor.tasks"] += job.numTasks()
    quantiles = spark._sc._gateway.new_array(spark._sc._jvm.double, 0)
    for st in _seq(app.stageList(None, False, False, quantiles, None)):
        key = owner(_opt_epoch(st.submissionTime()))
        if key is None:
            continue
        o = out[key]
        o["executor.run_s"] += st.executorRunTime() / 1e3
        o["executor.cpu_s"] += st.executorCpuTime() / 1e9
        o["executor.gc_s"] += st.jvmGcTime() / 1e3
        o["executor.shuffle_write_bytes"] += st.shuffleWriteBytes()
        o["executor.spill_bytes"] += (st.memoryBytesSpilled()
                                      + st.diskBytesSpilled())
    return out


def catalyst_phases(spark, df) -> dict:
    """Optimizer and planner time from a fresh QueryExecution over ``df``'s
    analyzed plan (a reused frame's tracker accumulates), plus the analyzed
    plan's node count."""
    jss = spark._jsparkSession
    analyzed = df._jdf.queryExecution().analyzed()
    qe = jss.sessionState().executePlan(
        analyzed, spark._jvm.org.apache.spark.sql.execution
        .CommandExecutionMode.SKIP())
    qe.executedPlan()
    phases = qe.tracker().phases()

    def ms(name):
        p = phases.get(name)
        return float(p.get().durationMs()) if p.isDefined() else 0.0
    return {"catalyst.optimization_ms": ms("optimization"),
            "catalyst.planning_ms": ms("planning"),
            "plans.analyzed_nodes": len(analyzed.treeString().splitlines())}

