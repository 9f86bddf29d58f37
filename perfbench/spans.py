"""Spans around engine calls, and Spark event-log attribution.

Every timed call runs inside ``Tracer.call``.  Untraced, a call is just a
wall-clock measurement.  Traced, each call is also a request: its jobs run
under a ``setJobGroup`` named after the request id, its nested phases
become child spans, and after the session stops the uncompressed event log
is read back and every job, stage and task is charged to the request that
submitted it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    request: int
    parent: int | None
    start_ns: int  # epoch ns, comparable with the event log's epoch ms
    end_ns: int = 0

    @property
    def ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6


@dataclass
class Call:
    """One timed engine call: the root span of a request."""

    request: int
    tier: str  # sql | ivfflat | hnsw
    phase: str  # read | write | build
    span: Span
    children: list = field(default_factory=list)

    def child_ms(self, name: str) -> float:
        return sum(c.ms for c in self.children if c.name == name)


class Tracer:
    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.calls: list[Call] = []
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._next = 0

    def _span(self, name: str, request: int) -> Span:
        parent = self._open[-1].id if self._open else None
        s = Span(len(self.spans), name, request, parent, time.time_ns())
        self.spans.append(s)
        return s

    @contextmanager
    def call(self, tier: str, phase: str, name: str, keep: bool = True):
        """Time one engine call; yields the Call (its span ends on exit).
        Warm-up calls pass ``keep=False`` and are left out of the results."""
        self._next += 1
        req = self._next
        if self.traced:
            self.sc.setJobGroup(f"pb-{req}", name)
        s = self._span(name, req)
        c = Call(req, tier, phase, s)
        self._open.append(s)
        try:
            yield c
        finally:
            s.end_ns = time.time_ns()
            self._open.pop()
            if self.traced:
                self.sc.setJobGroup("pb-0", "bench")
        if keep:
            self.calls.append(c)

    @contextmanager
    def phase(self, call: Call, name: str):
        """A nested span inside ``call``: the engine call, or forcing it."""
        s = self._span(name, call.request)
        self._open.append(s)
        try:
            yield
        finally:
            s.end_ns = time.time_ns()
            self._open.pop()
            call.children.append(s)

    def select(self, tier: str, phase: str) -> list[Call]:
        return [c for c in self.calls if c.tier == tier and c.phase == phase]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# -- event log ------------------------------------------------------------

@dataclass
class Job:
    group: str
    submit_ms: int
    end_ms: int = 0
    stages: set = field(default_factory=set)


@dataclass
class Counters:
    """Spark work charged to one request."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    python_ms: float = 0.0
    task_ms: list = field(default_factory=list)
    job_spans: list = field(default_factory=list)

    def driver_only_ms(self, span: Span) -> float:
        """Span wall time not covered by any of its jobs."""
        lo, hi = span.start_ns / 1e6, span.end_ns / 1e6
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(self.job_spans):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return max(0.0, span.ms - covered)

    def straggler_ratio(self) -> float:
        """Slowest task over the median task of the request."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 0.0


# SQL metric (ms) of the Python exec nodes (ArrowEvalPython,
# FlatMapGroupsInPandas, MapInPandas ...) timing the Python workers' work
_PYTHON_TIME = "time to run python workers"


def parse_event_log(path: str) -> dict[str, Counters]:
    """Counters per job group from one uncompressed event-log file."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_done: set = set()
    out: dict[str, Counters] = {}
    tasks = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(props.get("spark.jobGroup.id", ""), ev["Submission Time"])
                j.stages = set(ev.get("Stage IDs", []))
                jobs[ev["Job ID"]] = j
                for s in j.stages:
                    stage_job[s] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                stage_done.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for j in jobs.values():
        c = out.setdefault(j.group, Counters())
        c.jobs += 1
        c.job_spans.append((j.submit_ms, j.end_ms or j.submit_ms))
        c.stages += len(j.stages & stage_done)
    for ev in tasks:
        job = stage_job.get(ev["Stage ID"])
        if job is None:
            continue
        c = out[jobs[job].group]
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        c.tasks += 1
        c.task_ms.append(info["Finish Time"] - info["Launch Time"])
        c.run_ms += m.get("Executor Run Time", 0)
        c.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
        c.gc_ms += m.get("JVM GC Time", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        c.shuffle_bytes += (
            rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            + wr.get("Shuffle Bytes Written", 0)
        )
        for acc in info.get("Accumulables", []):
            if (acc.get("Name") or "").lower() == _PYTHON_TIME:
                c.python_ms += float(acc.get("Update", 0) or 0)
    return out


def find_event_log(directory: str) -> str:
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {names}")
    return os.path.join(directory, names[0])
