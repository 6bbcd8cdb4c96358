"""Spans around calls into the engine's layers, with Spark's own counters.

A span records its name, layer, start, end, parent and the run id.  Each
span also tags the jobs it fires with a Spark job group, so the UI and
the event log attribute them.  When a span closes, its counters are read
from the JVM ``AppStatusStore``: job ids from ``statusTracker``, stage
data from ``statusStore().lastStageAttempt``, and Python-worker time and
Arrow bytes from the SQL status store.  Counters are read at close
because one registry pass fires hundreds of jobs and the UI keeps only
the last 1000.  The status stores are fed asynchronously by the listener
bus, so the tracer drains the bus at every span boundary before reading
them, and it takes a stage or an SQL execution only once it has ended.
Spans stay in memory until the run writes them out.

The tracer changes no engine code: :meth:`Tracer.wrap` replaces an
attribute (a module function or an instance method) with a timed wrapper
for the life of the run.
"""

from __future__ import annotations

import contextlib
import functools
import re
import time

from py4j.protocol import Py4JError

# stage counters summed per span (StageData accessor -> record key)
_STAGE_FIELDS = {
    "numCompleteTasks": "tasks",
    "executorRunTime": "executor_ms",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
}
# SQL node metrics at the JVM <-> Python boundary (the *InPandas,
# ArrowEvalPython and MapInArrow operators all report these names)
_PY_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "arrow_to_python_bytes",
    "data returned from Python workers": "arrow_from_python_bytes",
}
_PY_NODE = re.compile(r"Pandas|Python|Arrow")
_FINAL_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}
_DRAIN_MS = 60_000
COUNTERS = ("jobs", "stages", *_STAGE_FIELDS.values(), *_PY_METRICS.values())

_UNITS = {"ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6, "ns": 1e-6, "us": 1e-3,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
          "TiB": 2.0**40}


def parse_metric(text: str) -> float:
    """A formatted SQL metric (``'1.8 s'``, ``'78.3 KiB'``, or the
    multi-task ``'total (min, med, max ...)\\n1.8 s (...)'``) as a number
    in ms or bytes."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Span:
    __slots__ = ("id", "parent", "name", "layer", "start", "end", "attrs",
                 "counters", "group", "children_s")

    def __init__(self, sid, parent, name, layer, group, attrs):
        self.id, self.parent, self.name, self.layer = sid, parent, name, layer
        self.group, self.attrs = group, attrs
        self.start = time.perf_counter()
        self.end = self.start
        self.counters = dict.fromkeys(COUNTERS, 0.0)
        self.children_s = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    def record(self, t0: float, run_id: str) -> dict:
        return {"id": self.id, "parent": self.parent, "run_id": run_id,
                "name": self.name, "layer": self.layer,
                "start_s": round(self.start - t0, 6),
                "end_s": round(self.end - t0, 6),
                "self_s": round(self.duration - self.children_s, 6),
                "job_group": self.group, **self.attrs,
                "counters": {k: v for k, v in self.counters.items() if v}}


class Tracer:
    """Collects spans for one run.  With ``enabled=False`` every span is a
    no-op, so untraced runs pay nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self.read_s = 0.0  # time spent reading counters: the tracer's own cost
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        if enabled:
            self._sc = spark.sparkContext
            self._bus = self._sc._jsc.sc().listenerBus()
            self._status = self._sc._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._seen_stages: set[int] = set()
            self._next_exec = self._sql.executionsCount()

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        self._drain()
        self._flush_sql()  # SQL executions so far belong to the enclosing span
        self.read_s += time.perf_counter() - t
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.id if parent else None, name, layer,
                  f"{self.run_id}:{len(self.spans)}:{name}", attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            self._drain()
            self._read_jobs(sp)
            self._flush_sql(sp)
            if parent is not None:
                parent.children_s += sp.duration
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.read_s += time.perf_counter() - t

    def wrap(self, owner, attr: str, layer: str, on_call=None) -> None:
        """Time every call of ``owner.attr`` in a span until :meth:`unwrap`.
        ``on_call(span, args, kwargs)`` may add attributes to the span."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(attr, layer) as sp:
                if on_call is not None:
                    on_call(sp, args, kwargs)
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, timed)

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    # -- counters ----------------------------------------------------------
    def _drain(self) -> None:
        """Wait until the listener bus has applied every event posted so
        far, so the status stores hold the jobs that have just ended."""
        try:
            self._bus.waitUntilEmpty(_DRAIN_MS)
        except Py4JError:  # timed out: read what the stores hold
            pass

    def _read_jobs(self, sp: Span) -> None:
        tracker = self._sc.statusTracker()
        c = sp.counters
        for job_id in tracker.getJobIdsForGroup(sp.group):
            c["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else ()):
                # a skipped stage reappears in later jobs: count it once
                if stage_id in self._seen_stages:
                    continue
                try:
                    data = self._status.lastStageAttempt(stage_id)
                except Py4JError:  # not in the store: nothing to count
                    continue
                if data.status().name() not in _FINAL_STAGE:
                    continue
                self._seen_stages.add(stage_id)
                if data.numCompleteTasks() == 0:
                    continue
                c["stages"] += 1
                for getter, key in _STAGE_FIELDS.items():
                    c[key] += getattr(data, getter)()

    def _flush_sql(self, sp: Span | None = None) -> None:
        """Attribute the SQL executions that have ended since the last
        boundary to the innermost open span (or to ``sp`` when it is
        closing).  An execution still running is read at a later one."""
        target = sp or (self._stack[-1] if self._stack else None)
        count = self._sql.executionsCount()
        if count == self._next_exec:
            return
        executions = self._sql.executionsList(self._next_exec,
                                              count - self._next_exec)
        for i in range(executions.size()):
            execution = executions.apply(i)
            if execution.completionTime().isEmpty():
                break
            self._next_exec += 1
            if target is not None:
                self._add_python_metrics(target, execution.executionId())

    def _add_python_metrics(self, target: Span, exec_id: int) -> None:
        nodes = self._sql.planGraph(exec_id).allNodes()
        values = None
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if not _PY_NODE.search(node.name()):
                continue
            if values is None:
                values = self._sql.executionMetrics(exec_id)
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _PY_METRICS.get(m.name())
                value = values.get(m.accumulatorId()) if key else None
                if value is not None and value.isDefined():
                    target.counters[key] += parse_metric(value.get())

    # -- output ------------------------------------------------------------
    def records(self) -> list[dict]:
        return [sp.record(self.t0, self.run_id) for sp in self.spans]

    def inclusive(self) -> list[dict]:
        """Counters of each span plus all of its descendants."""
        totals = [dict(sp.counters) for sp in self.spans]
        for sp in reversed(self.spans):  # a child's id is above its parent's
            if sp.parent is not None:
                parent = totals[sp.parent]
                for k, v in totals[sp.id].items():
                    parent[k] += v
        return totals

    def layer_totals(self, roots: set[int] | None = None) -> dict[str, dict]:
        """Per layer: inclusive seconds and counters of its outermost spans
        (a span nested in a span of the same layer is not counted twice).
        ``roots`` limits the sum to the subtrees of those span ids."""
        inclusive = self.inclusive()
        layers: list[set[str]] = []  # layers open above each span
        inside: list[bool] = []
        out: dict[str, dict] = {}
        for sp in self.spans:
            above = set() if sp.parent is None else (
                layers[sp.parent] | {self.spans[sp.parent].layer})
            ins = roots is None or sp.id in roots or (
                sp.parent is not None and inside[sp.parent])
            layers.append(above)
            inside.append(ins)
            if sp.layer in above or not ins:
                continue
            tot = out.setdefault(sp.layer, {"s": 0.0, "calls": 0,
                                            **dict.fromkeys(COUNTERS, 0.0)})
            tot["s"] += sp.duration
            tot["calls"] += 1
            for k, v in inclusive[sp.id].items():
                tot[k] += v
        return out
