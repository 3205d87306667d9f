"""Outside-in tracing: spans around calls into spider_spark's public
functions, and a folder for the Spark event log.

Nothing here polls the driver while the workload runs. Spans are recorded
by wrappers the benchmark installs around module attributes, and every
Spark-side number is read back from the event log once the session has
stopped. A job is attributed to the innermost span open on the submitting
thread's timeline at its submission time.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import wraps
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class SpanRecorder:
    """In-memory span tree. Times are epoch seconds so that spans line up
    with the event log's millisecond timestamps."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, self.clock(),
                     parent=stack[-1] if stack else None)
            self.spans.append(s)
        stack.append(s.id)
        try:
            yield s
        finally:
            stack.pop()
            s.end = self.clock()

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a span-recording wrapper; returns the
        function that puts the original back."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_classmethod = isinstance(original, classmethod)
        func = original.__func__ if is_classmethod else original

        @wraps(func)
        def traced(*args, **kwargs):
            with self.span(name):
                return func(*args, **kwargs)

        setattr(owner, attr, classmethod(traced) if is_classmethod else traced)
        return lambda: setattr(owner, attr, original)

    @contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Wrap every ``(owner, attr, span_name)`` for the duration."""
        undo = [self.wrap(o, a, n) for o, a, n in targets]
        try:
            yield self
        finally:
            for u in reversed(undo):
                u()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = _union_length(
            [(max(c.start, span.start), min(c.end, span.end)) for c in self.children(span)]
        )
        return span.duration - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def innermost(self, t: float) -> Span | None:
        """Deepest span open at time ``t`` (latest start wins among the
        spans containing ``t``; spans on one thread nest)."""
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end if s.end is not None else float("inf")):
                if best is None or s.start >= best.start:
                    best = s
        return best


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ event log

PY_METRICS = {
    "time to run Python workers": "python_total",
    "time to start Python workers": "python_boot",
    "time to initialize Python workers": "python_init",
    "data sent to Python workers": "python_bytes_sent",
}
TASK_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.executorDeserializeTime": "deser_ms",
    "internal.metrics.resultSerializationTime": "ser_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


@dataclass
class Job:
    id: int
    submit: float
    end: float
    stages: list[int]
    callsite: str = ""

    @property
    def module(self) -> str:
        """``collect at /x/spider_spark/crawl.py:263`` -> ``crawl``."""
        where = self.callsite.rsplit(" at ", 1)[-1]
        return Path(where.split(":")[0]).stem or "?"


@dataclass
class Stage:
    id: int
    task_ms: list[float] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass
class EventFold:
    jobs: list[Job]
    stages: dict[int, Stage]

    def stage_metric(self, stage_ids, key: str) -> float:
        return sum(self.stages[s].metrics.get(key, 0.0) for s in stage_ids if s in self.stages)

    def jobs_in(self, start: float, end: float) -> list[Job]:
        return [j for j in self.jobs if start <= j.submit <= end]

    def job_wall_union(self, jobs: list[Job]) -> float:
        return _union_length([(j.submit, j.end) for j in jobs])


def read_event_log(path: Path) -> list[dict]:
    files = [path] if path.is_file() else sorted(p for p in path.iterdir() if p.is_file())
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold_events(events: list[dict]) -> EventFold:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = Job(jid, e["Submission Time"] / 1000.0, e["Submission Time"] / 1000.0,
                            list(e.get("Stage IDs", [])),
                            (e.get("Properties") or {}).get("callSite.short", ""))
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            dur = info["Finish Time"] - info["Launch Time"]
            st.task_ms.append(dur)
            vals: dict[str, float] = {}
            for acc in info.get("Accumulables", []):
                key = TASK_METRICS.get(acc.get("Name")) or PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    vals[key] = vals.get(key, 0.0) + float(acc.get("Update") or 0)
            for k, v in vals.items():
                st.metrics[k] = st.metrics.get(k, 0.0) + v
            overhead = (vals.get("run_ms", 0.0) + vals.get("deser_ms", 0.0)
                        + vals.get("ser_ms", 0.0) + info.get("Getting Result Time", 0))
            st.metrics["sched_delay_ms"] = st.metrics.get("sched_delay_ms", 0.0) + max(
                0.0, dur - overhead)
            st.metrics["tasks"] = st.metrics.get("tasks", 0.0) + 1
    return EventFold(sorted(jobs.values(), key=lambda j: j.submit), stages)


def attribute_jobs(rec: SpanRecorder, jobs: list[Job]) -> dict[str, list[Job]]:
    """Span name -> jobs submitted while it was the innermost open span."""
    out: dict[str, list[Job]] = {}
    for j in jobs:
        s = rec.innermost(j.submit)
        out.setdefault(s.name if s else "(none)", []).append(j)
    return out


def task_skew(fold: EventFold, stage_ids) -> float:
    """Max over median task time of the stage with the most task time."""
    cands = [fold.stages[s] for s in stage_ids if s in fold.stages and fold.stages[s].task_ms]
    if not cands:
        return 0.0
    big = max(cands, key=lambda s: sum(s.task_ms))
    med = statistics.median(big.task_ms)
    return max(big.task_ms) / med if med > 0 else 0.0
