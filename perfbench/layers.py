"""Per-op layer probe, measured from outside the library.

An op is one call from the user's side: a function that builds a
DataFrame, then ``collect()``. ``Probe.run`` times the build call
(build), the physical planning (plan), the Spark jobs the collect
starts (exec) and the Row hand-over after the last job ends (collect).
With ``trace=True`` it also reads Spark's own status stores by job
group: job and stage metrics from the core store, Python-worker SQL
metrics from the SQL store, and node counts from the executed plan.
Nothing is added to the library.
"""

from __future__ import annotations

import itertools
import re
import time
from dataclasses import dataclass, field

# Layer metrics summed per pass, in the order they are reported.
LAYER_KEYS = (
    "build.s", "build.jobs", "build.job_s",
    "plan.s", "plan.exchanges", "plan.python_nodes",
    "exec.s", "exec.jobs",
    "stage.count", "stage.tasks", "stage.task_s", "stage.cpu_s", "stage.gc_s",
    "stage.shuffle_read_mb", "stage.shuffle_write_mb", "stage.spill_mb",
    "stage.input_mb", "stage.output_mb",
    "python.run_s", "python.start_s", "python.sent_mb", "python.recv_mb",
    "collect.s", "collect.rows",
)

_MB = 1024.0 * 1024.0
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / _MB, "KiB": 1024 / _MB, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0 ** 2,
}
_QUANTITY = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")

# SQL metric name -> python.* key. Spark registers these on every
# Python-evaluating node (PythonSQLMetrics) and on Python data sources.
_PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.start_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}
_NODE = re.compile(r"^[\s:|+\-*]*(?:\(\d+\)\s*)?([A-Za-z]\w*)")
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def _metric_value(text: str) -> float:
    """Total of a formatted SQL metric: '12 ms', '1.5 KiB' or
    'total (min, med, max ...)\\n3.0 s (...)'. Seconds or MB."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _QUANTITY.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


def _ints(scala_seq) -> list[int]:
    s = scala_seq.mkString(",")
    return [int(x) for x in s.split(",") if x]


def plan_counts(plan_text: str) -> tuple[int, int]:
    """(exchanges, python nodes) in an executed plan's tree string."""
    exchanges = python = 0
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node.endswith("Exchange"):
            exchanges += 1
        if _PYTHON_NODE.search(node) or (node == "BatchScan" and "(Python)" in line):
            python += 1
    return exchanges, python


@dataclass
class OpRecord:
    """One op execution: its rows, its wall time and, when traced, its
    layer metrics and spans."""

    name: str
    rows: list
    columns: list
    wall_s: float
    layers: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)


class Probe:
    """Runs ops one at a time, each under its own Spark job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._ids = itertools.count()

    def run(self, name: str, build, trace: bool = False) -> OpRecord:
        group = f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(group, name)
        if trace:
            sql_store = self.spark._jsparkSession.sharedState().statusStore()
            n_exec = sql_store.executionsCount()
        w0 = time.time()
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        if trace:
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # collect() reuses this plan
        t2 = time.perf_counter()
        rows = df.collect()
        t3 = time.perf_counter()
        rec = OpRecord(name, rows, df.columns, t3 - t0)
        if trace:
            self._jsc.listenerBus().waitUntilEmpty()
            self._layers(rec, group, qe, sql_store, n_exec, w0, t1 - t0, t2 - t1, t3 - t2)
        return rec

    def _layers(self, rec, group, qe, sql_store, n_exec, w0, build_s, plan_s, run_s):
        """Fill ``rec.layers`` and ``rec.spans`` from the status stores.
        Times are wall-clock epoch seconds, the clock the JVM stamps job
        submission and completion with."""
        store = self._jsc.statusStore()
        b_end = w0 + build_s
        p_end = b_end + plan_s
        end = p_end + run_s
        jobs = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = store.job(jid)
            sub = jd.submissionTime()
            comp = jd.completionTime()
            start = sub.get().getTime() / 1000.0 if sub.isDefined() else w0
            stop = comp.get().getTime() / 1000.0 if comp.isDefined() else end
            jobs.append((jid, start, stop, _ints(jd.stageIds())))
        build_jobs = [j for j in jobs if j[1] <= b_end]
        exec_jobs = [j for j in jobs if j[1] > b_end]
        last_end = max((j[2] for j in exec_jobs), default=p_end)
        last_end = min(max(last_end, p_end), end)

        L = dict.fromkeys(LAYER_KEYS, 0.0)
        L["build.s"] = build_s
        L["build.jobs"] = len(build_jobs)
        L["build.job_s"] = _covered([(s, e) for _, s, e, _ in build_jobs], w0, b_end)
        L["plan.s"] = plan_s
        L["plan.exchanges"], L["plan.python_nodes"] = plan_counts(
            qe.executedPlan().toString())
        L["exec.s"] = last_end - p_end
        L["exec.jobs"] = len(exec_jobs)
        L["collect.s"] = end - last_end
        L["collect.rows"] = len(rec.rows)
        for sid in sorted({s for j in jobs for s in j[3]}):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # a stage that never ran has no attempt
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            L["stage.count"] += 1
            L["stage.tasks"] += sd.numTasks()
            L["stage.task_s"] += sd.executorRunTime() / 1e3
            L["stage.cpu_s"] += sd.executorCpuTime() / 1e9
            L["stage.gc_s"] += sd.jvmGcTime() / 1e3
            L["stage.shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
            L["stage.shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            L["stage.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
            L["stage.input_mb"] += sd.inputBytes() / _MB
            L["stage.output_mb"] += sd.outputBytes() / _MB
        for key, val in _python_metrics(sql_store, n_exec).items():
            L[key] += val
        rec.layers = L

        spans = [
            _span(group, None, rec.name, w0, end),
            _span(f"{group}/build", group, "build", w0, b_end),
            _span(f"{group}/plan", group, "plan", b_end, p_end),
            _span(f"{group}/exec", group, "exec", p_end, last_end),
            _span(f"{group}/collect", group, "collect", last_end, end),
        ]
        for jid, s, e, _ in jobs:
            parent = f"{group}/build" if s <= b_end else f"{group}/exec"
            spans.append(_span(f"{group}/job{jid}", parent, f"job {jid}", s, e))
        rec.spans = spans


def _span(sid, parent, name, start, end) -> dict:
    return {"id": sid, "parent": parent, "name": name, "start": start, "end": end}


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the intervals cover."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def _python_metrics(sql_store, first_exec: int) -> dict[str, float]:
    """Python-worker metrics summed over the SQL executions that ran
    since ``first_exec`` (build-time and collect executions alike)."""
    out: dict[str, float] = {}
    n = sql_store.executionsCount() - first_exec
    if n <= 0:
        return out
    it = sql_store.executionsList(first_exec, n).iterator()
    while it.hasNext():
        ex = it.next()
        values = sql_store.executionMetrics(ex.executionId())
        seen = set()
        mit = ex.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            acc = m.accumulatorId()
            if acc in seen:
                continue
            seen.add(acc)
            key = _PYTHON_METRICS.get(m.name())
            if key is None:
                continue
            v = values.get(acc)
            if v.isDefined():
                out[key] = out.get(key, 0.0) + _metric_value(v.get())
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: duration minus the part its children cover."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        name = s["name"] if s["parent"] else "op"
        name = "job" if name.startswith("job ") else name
        d = s["end"] - s["start"]
        out[name] = out.get(name, 0.0) + d - _covered(kids.get(s["id"], []), s["start"], s["end"])
    return out
