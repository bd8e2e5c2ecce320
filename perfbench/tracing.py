"""Spans and counters recorded around the benchmark's calls into each layer.

Everything here observes the engine from outside: timers around the calls
the benchmark makes, a count of py4j commands sent by this process, Spark
job groups read back through ``statusTracker``, stage data from the core
status store, and per-node metrics from the SQL status store.  Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    query: str | None


class Tracer:
    """In-memory span recorder; spans nest by the order they are opened."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, query: str | None = None):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, query))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def to_json(self, t0: float) -> list[dict]:
        return [{"name": s.name, "start": s.start - t0, "end": s.end - t0,
                 "parent": s.parent, "query": s.query} for s in self.spans]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        inside = [(max(a, s.start), min(b, s.end)) for a, b in kids.get(i, [])]
        out.append((s.end - s.start) - covered([iv for iv in inside if iv[1] > iv[0]]))
    return out


class Py4jCounter:
    """Counts py4j commands this process sends to the JVM while armed.

    Memory-release commands are left out: py4j sends them whenever Python
    happens to garbage-collect a proxy object, so they do not repeat.
    """

    _MEMORY_DELETE = "m\nd\n"

    def __init__(self):
        self.count = 0
        self.armed = False

    def install(self):
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        counter = self
        for cls in (ClientServerConnection, GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                if counter.armed and not command.startswith(counter._MEMORY_DELETE):
                    counter.count += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = send_command


_STAGE_FIELDS = {
    "exec.tasks": ("numTasks", 1),
    "exec.task_s": ("executorRunTime", 1e-3),
    "exec.cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.input_bytes": ("inputBytes", 1),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "exec.spill_bytes": ("diskBytesSpilled", 1),
}


def wait_for_listeners(sc) -> None:
    """Block until the status stores have seen every finished job's events."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def job_ids(sc, group: str) -> list[int]:
    return sorted(int(j) for j in sc.statusTracker().getJobIdsForGroup(group))


def stage_counters(sc, jobs: list[int]) -> dict[str, float]:
    """Sum the core status store's stage data over every stage of ``jobs``."""
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(int(s) for s in info.stageIds)
    out = dict.fromkeys(_STAGE_FIELDS, 0.0)
    out["exec.jobs"] = len(jobs)
    out["exec.stages"] = len(stages)
    for sid in sorted(stages):
        sd = store.lastStageAttempt(sid)
        for name, (field, scale) in _STAGE_FIELDS.items():
            out[name] += getattr(sd, field)() * scale
    return out


# SQL plan metrics of the Python-worker nodes, by the name Spark gives them
PYWORKER_METRICS = {
    "time to run Python workers": "pyworker.run_s",
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """Total of a SQL metric as the status store formats it, in s or bytes.

    The store gives either the bare total (``"1.6 s"``, ``"157.5 KiB"``,
    ``"1,234"``) or a ``total (min, med, max …)`` header line followed by
    the values, whose first number is the total.
    """
    if not text:
        return 0.0
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if lines and lines[0].lstrip().startswith("total"):
        lines = lines[1:]
    m = _VALUE.match(lines[0]) if lines else None
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def sql_execution_count(spark) -> int:
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


def pyworker_counters(spark, since: int, jobs: list[int]) -> dict[str, float]:
    """Sum the Python-worker node metrics of the SQL executions that ran
    ``jobs``, looking only at executions numbered ``since`` or later."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {v: 0.0 for v in PYWORKER_METRICS.values()}
    wanted = set(jobs)
    total = int(store.executionsCount())
    it = store.executionsList(since, max(0, total - since)).iterator()
    while it.hasNext():
        ex = it.next()
        keys = ex.jobs().keys().iterator()
        ran = set()
        while keys.hasNext():
            ran.add(int(keys.next()))
        if not ran & wanted:
            continue
        values = store.executionMetrics(ex.executionId())
        seen = set()
        mit = ex.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            key = PYWORKER_METRICS.get(m.name())
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                out[key] += parse_metric(v.get())
    return out


def catalyst_phases(qe) -> dict[str, float]:
    """Phase durations (ms) from a QueryExecution's planning tracker."""
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = (
            float(phases.apply(phase).durationMs()) if phases.contains(phase) else 0.0)
    return out


_PYTHON_NODE = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas|"
    r"FlatMapCoGroupsInArrow|AggregateInPandas|ArrowAggregatePython|"
    r"WindowInPandas|ArrowWindowPython)")


def python_nodes(plan_text: str) -> int:
    """Python-worker operators in a physical plan's text."""
    return len(_PYTHON_NODE.findall(plan_text))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB, 0 if it cannot be read."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
