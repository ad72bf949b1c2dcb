"""Spans around the benchmark's calls into the program, and Spark's event
log joined to them.

A span records name, start, end, parent and request id. Spans live in
memory and are written out when the run ends. While a span is open its
thread's Spark jobs carry the span id as their job group, so the event
log's per-job, per-stage and per-task figures can be charged to the span
that launched them.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from .measure import median

# Python-worker SQL metrics of the Arrow/pandas exec nodes, by short name
PY_METRICS = {
    "time to start Python workers": "boot",
    "time to initialize Python workers": "init",
    "time to run Python workers": "run",
    "data sent to Python workers": "sent",
    "data returned from Python workers": "returned",
}
KERNEL_NODES = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")


@dataclass
class Span:
    sid: str
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    rid: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float | None = None,
            hi: float | None = None) -> float:
    """Total length covered by the union of ``intervals``, clipped to
    [lo, hi] when given."""
    segs = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            segs.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(segs):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    return span.dur - covered([(c.start, c.end) for c in children],
                              span.start, span.end)


class Tracer:
    """In-memory span recorder. Disabled, every method is a cheap no-op,
    so the untraced run executes the same harness code."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.sid, span.name, False)

    @contextlib.contextmanager
    def span(self, name: str, rid: int | None = None,
             parent: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1].sid
        if rid is None and stack:
            rid = stack[-1].rid
        s = Span(f"s{next(self._ids)}", name, time.time(), parent=parent,
                 rid=rid)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(s)

    def wrap(self, obj, attr: str, name: str, results=None) -> None:
        """Replace ``obj.attr`` with a spanned call; ``results`` maps the
        return value to its result-row count, kept on the span."""
        if not self.enabled:
            return
        inner = getattr(obj, attr)

        def spanned(*args, **kwargs):
            with self.span(name) as s:
                out = inner(*args, **kwargs)
                if results is not None:
                    s.attrs["results"] = results(out)
                return out

        setattr(obj, attr, spanned)

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.__dict__) + "\n")


# -- Spark event log ----------------------------------------------------------

@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    stage_id: int
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    first_launch: float | None = None
    # (node kind, metric short name) -> summed value, seconds or bytes
    py: dict = field(default_factory=lambda: defaultdict(float))
    rows: dict = field(default_factory=lambda: defaultdict(int))  # by node kind


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]


def _node_kind(node: str, simple: str) -> str | None:
    """'analyzer' for the text-tokenizing pandas maps, 'kernel' for the
    grouped per-shard pandas stages, 'other' for any other Python node."""
    if node == "MapInPandas" and "text#" in simple:
        return "analyzer"
    if node in KERNEL_NODES:
        return "kernel"
    if "Pandas" in node or "Python" in node or "Arrow" in node:
        return "other"
    return None


def _walk_plan(plan: dict, out: dict) -> None:
    kind = _node_kind(plan.get("nodeName", ""), plan.get("simpleString", ""))
    if kind is not None:
        for m in plan.get("metrics", []):
            out[int(m["accumulatorId"])] = (kind, m["name"], m["metricType"])
    for c in plan.get("children", []):
        _walk_plan(c, out)


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def parse_event_log(lines) -> EventLog:
    """Jobs (with job group and interval) and per-stage task counts,
    executor run and GC time, and Python-worker metrics by node kind."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    accs: dict[int, tuple[str, str, str]] = {}
    finals: list[tuple[int, list]] = []
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        ev = e.get("Event", "")
        if ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _walk_plan(e.get("sparkPlanInfo", {}), accs)
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            j = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                    e["Submission Time"] / 1000.0, stages=list(e["Stage IDs"]))
            jobs[j.job_id] = j
            for sid in j.stages:
                stages.setdefault(sid, Stage(sid))
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
            st.tasks += 1
            st.run_s += m.get("Executor Run Time", 0) / 1000.0
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            launch = info.get("Launch Time", 0) / 1000.0
            st.first_launch = (launch if st.first_launch is None
                               else min(st.first_launch, launch))
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            finals.append((info["Stage ID"], info.get("Accumulables", [])))
    # a stage can complete before the adaptive plan update that names its
    # nodes is logged, so accumulators are resolved after the whole pass
    for stage_id, accumulables in finals:
        st = stages[stage_id]
        for a in accumulables:
            meta = accs.get(int(a["ID"]))
            if meta is None:
                continue
            kind, name, mtype = meta
            val = _num(a.get("Value"))
            if name in PY_METRICS:
                if mtype == "timing":
                    val /= 1000.0
                elif mtype == "nsTiming":
                    val /= 1e9
                st.py[(kind, PY_METRICS[name])] += val
            elif name == "number of output rows":
                st.rows[kind] += int(val)
    return EventLog(jobs, stages)


def read_event_log(path) -> EventLog:
    with open(path) as f:
        return parse_event_log(f)


@dataclass
class SpanCost:
    """Spark work launched inside one span and its descendants."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    rows: dict = field(default_factory=lambda: defaultdict(int))
    py: dict = field(default_factory=lambda: defaultdict(float))
    queue_waits: list = field(default_factory=list)
    job_intervals: list = field(default_factory=list)


def charge(spans: list[Span], log: EventLog) -> dict[str, SpanCost]:
    """Cost per span id, each span including the jobs of its descendants."""
    by_group: dict[str, list[Job]] = defaultdict(list)
    for j in log.jobs.values():
        if j.group:
            by_group[j.group].append(j)
    parent = {s.sid: s.parent for s in spans}
    costs = {s.sid: SpanCost() for s in spans}
    for group, jobs in by_group.items():
        sid = group
        while sid is not None and sid in costs:
            c = costs[sid]
            for j in jobs:
                c.jobs += 1
                c.job_intervals.append((j.submit, j.end or j.submit))
                firsts = []
                for stage_id in j.stages:
                    st = log.stages.get(stage_id)
                    if st is None or st.tasks == 0:
                        continue   # skipped stage (reused shuffle output)
                    c.stages += 1
                    c.tasks += st.tasks
                    c.run_s += st.run_s
                    c.gc_s += st.gc_s
                    for k, v in st.rows.items():
                        c.rows[k] += v
                    for k, v in st.py.items():
                        c.py[k] += v
                    if st.first_launch is not None:
                        firsts.append(st.first_launch)
                if firsts:
                    c.queue_waits.append(max(0.0, min(firsts) - j.submit))
            sid = parent.get(sid)
    return costs


def py_total(cost: SpanCost, metric: str, kind: str | None = None) -> float:
    return sum(v for (k, m), v in cost.py.items()
               if m == metric and (kind is None or k == kind))


def driver_time(span: Span, cost: SpanCost) -> float:
    """Span time not covered by any of its Spark jobs: planning, driver
    rank, createDataFrame, Python glue."""
    return span.dur - covered(cost.job_intervals, span.start, span.end)


REQUEST_LAYERS = (
    "engine.driver_s", "spark.jobs_per_req", "spark.stages_per_req",
    "spark.tasks_per_req", "spark.queue_wait_s", "spark.executor_run_s",
    "spark.gc_s", "spark.python_boot_s", "spark.python_init_s",
    "spark.py_bytes_sent", "spark.py_bytes_returned", "wand.python_run_s")


def request_layers(reads: list[Span], costs: dict) -> dict[str, float]:
    """Per-request Spark figures over the workload's read spans (the
    ``REQUEST_LAYERS`` names); empty when there are no reads, and without
    ``spark.queue_wait_s`` when no read ran a task."""
    if not reads:
        return {}
    c = [costs[s.sid] for s in reads]

    def med(f):
        return median([f(x) for x in c])
    waits = [w for x in c for w in x.queue_waits]
    m = {
        "engine.driver_s": median([driver_time(s, costs[s.sid]) for s in reads]),
        "spark.jobs_per_req": med(lambda x: x.jobs),
        "spark.stages_per_req": med(lambda x: x.stages),
        "spark.tasks_per_req": med(lambda x: x.tasks),
        "spark.executor_run_s": med(lambda x: x.run_s),
        "spark.gc_s": sum(x.gc_s for x in c) / len(c),
        "spark.python_boot_s": med(lambda x: py_total(x, "boot")),
        "spark.python_init_s": med(lambda x: py_total(x, "init")),
        "spark.py_bytes_sent": med(lambda x: py_total(x, "sent")),
        "spark.py_bytes_returned": med(lambda x: py_total(x, "returned")),
        "wand.python_run_s": med(lambda x: py_total(x, "run", "kernel")),
    }
    if waits:
        m["spark.queue_wait_s"] = median(waits)
    return m
