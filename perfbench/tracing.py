"""Spans and Spark job counts for the traced run.

Spans are recorded from the benchmark's own files: :meth:`Tracer.wrap`
replaces a method on one object (a store, its commit protocol, the
reader clone) with a timing wrapper; the engine's code is not changed.
A span is ``(id, name, start, end, parent, op)``. The parent is the
innermost open span on the same thread, or the span the thread was
handed with :meth:`Tracer.adopt` (an HTTP handler thread adopts the
client's request span). Spans stay in memory until :meth:`Tracer.dump`.

:class:`JobCounter` tags the jobs an operation runs by setting
``spark.jobGroup.id`` on the thread that runs it, and reads the job,
stage and task counts from the status tracker straight after the
operation (:meth:`JobCounter.read`), before the tracker's bounded job
history can drop them.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[tuple[int | None, str | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._stack()
        parent, parent_op = stack[-1] if stack else (None, None)
        sid = next(self._ids)
        op = op or parent_op
        stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))

    @contextlib.contextmanager
    def adopt(self, parent: int | None, op: str | None):
        """Run the block as if inside span ``parent`` of operation ``op``
        (a span opened on another thread)."""
        stack = self._stack()
        stack.append((parent, op))
        try:
            yield
        finally:
            stack.pop()

    def wrap(self, obj, method: str, name: str, ctx: bool = False) -> None:
        """Record a span around every call of ``obj.method``. With
        ``ctx`` the method returns a context manager and the span covers
        the ``with`` block (a commit transaction)."""
        inner = getattr(obj, method)
        if ctx:

            @contextlib.contextmanager
            def wrapped(*a, **kw):
                with self.span(name), inner(*a, **kw) as v:
                    yield v

        else:

            def wrapped(*a, **kw):
                with self.span(name):
                    return inner(*a, **kw)

        setattr(obj, method, wrapped)

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.id] = s.dur - covered
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sid: int, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == sid and s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        selft = self.self_times()
        rows = [dict(asdict(s), self=selft[s.id]) for s in self.spans]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": rows, **extra}, fh)


class JobCounter:
    """Per-operation Spark job / stage / task counts."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.counts: dict[str, dict] = {}

    @contextlib.contextmanager
    def group(self, op: str):
        """Tag the jobs the block runs on this thread with ``op``.
        ``spark.jobGroup.id`` is set directly: ``setJobGroup`` would
        also set a job description, which shadows the action labels."""
        key = "spark.jobGroup.id"
        before = self.sc.getLocalProperty(key)
        self.sc.setLocalProperty(key, op)
        try:
            yield
        finally:
            self.sc.setLocalProperty(key, before)

    def read(self, op: str) -> dict:
        """Record and return the counts of ``op``'s jobs; call it right
        after the operation, outside its timing."""
        self.counts[op] = self._read(op)
        return self.counts[op]

    def _read(self, op: str) -> dict:
        self._bus.waitUntilEmpty()
        jobs = self.tracker.getJobIdsForGroup(op)
        stages: set[int] = set()
        tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid not in stages:
                    stages.add(sid)
                    st = self.tracker.getStageInfo(sid)
                    tasks += st.numTasks if st else 0
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def jvm_gc_s(spark) -> float:
    """Cumulative garbage-collection time of the driver JVM."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def jvm_heap_used_mb(spark, gc: bool = False) -> float:
    """Heap in use by the driver JVM; with ``gc``, after a full
    collection (what the run retains, not when the last GC happened)."""
    if gc:
        spark._jvm.java.lang.System.gc()
    mf = spark._jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20
