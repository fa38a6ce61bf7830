"""Spans around the public functions the benchmarked entry points call.

A :class:`Tracer` patches module attributes for the duration of one traced
operation and restores them afterwards, so untraced operations run the
program exactly as production callers do. Each span records its name,
start, end, parent and op id, and labels the Spark jobs submitted on its
thread with a job group of its own (``setLocalProperty`` is per thread in
PySpark's pinned-thread mode, so pool threads that enter a span are labelled
too). Job and stage ids are read back through ``statusTracker()`` after the
operation. Jobs submitted outside any span (by pool threads of the program
that enter none) go to the span directly under the root that was open on
the operation's thread when they appeared, else to the root.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    op_id: int
    group: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def persisted_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


def blockmgr_mib(sc) -> float:
    """Storage memory in use across the block managers, in MiB."""
    status = sc._jsc.sc().getExecutorMemoryStatus()
    used, it = 0, status.valuesIterator()
    while it.hasNext():
        pair = it.next()
        used += int(pair._1()) - int(pair._2())
    return used / 2**20


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count()
        self._patches: list[tuple[object, str, object]] = []
        self._root: Span | None = None
        self._op_stack: list[Span] = []
        self._op_id = -1
        self.bookkeeping_s = 0.0  # the tracer's own time: span entry and exit, hooks

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        t_enter = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        # a thread with no open span (a pool thread of the program) nests
        # under the innermost span open on the operation's own thread
        parent = stack[-1] if stack else (self._op_stack[-1] if self._op_stack else None)
        sp = Span(name, self._op_id, f"perfbench-{next(self._ids)}", parent)
        # spans opened directly under the root on the operation's thread
        # claim the unlabelled jobs submitted while they are open
        claims = parent is not None and parent is self._root and stack is self._op_stack
        before = self._ungrouped() if claims else set()
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, sp.group)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            if claims:
                sp.attrs["ungrouped_jobs"] = sorted(self._ungrouped() - before)
            with self._lock:
                self.spans.append(sp)
                self.bookkeeping_s += (sp.start - t_enter) + (time.perf_counter() - sp.end)

    def _ungrouped(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def op(self, op_id: int):
        """Trace one operation: install the patches, open its root span.
        The root owns the unlabelled jobs no child span claimed."""
        self._op_id = op_id
        before = self._ungrouped()
        self._op_stack = self._local.__dict__.setdefault("stack", [])
        for owner, attr, wrapper in self._patches:
            setattr(owner, attr, wrapper)
        try:
            with self.span("op") as root:
                self._root = root
                self.bookkeeping_s = 0.0
                yield root
                # the tracer's own time inside the operation's timed region
                root.attrs["bookkeeping_s"] = self.bookkeeping_s
        finally:
            self._root = None
            for owner, attr, wrapper in self._patches:
                setattr(owner, attr, wrapper.__wrapped__)
        claimed = {j for s in self.op_spans(op_id) for j in s.attrs.get("ungrouped_jobs", [])}
        root.attrs["ungrouped_jobs"] = sorted(self._ungrouped() - before - claimed)

    def wrap(self, owner, attr: str, name: str, after=None, before=None) -> None:
        """Register a patch of ``owner.attr``; active only inside :meth:`op`.

        ``before(args, kwargs)`` may rewrite the call's keyword arguments;
        ``after(span, result, kwargs)`` records attributes on the span once
        it has closed. Both count as the tracer's own time."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            if before is not None:
                before(args, kwargs)
            hooks_s = time.perf_counter() - t0
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
            t1 = time.perf_counter()
            if after is not None:
                after(sp, result, kwargs)
            hooks_s += time.perf_counter() - t1
            with tracer._lock:
                tracer.bookkeeping_s += hooks_s
            return result

        wrapper.__wrapped__ = orig
        self._patches.append((owner, attr, wrapper))

    # -- read-back ----------------------------------------------------------
    def op_spans(self, op_id: int) -> list[Span]:
        return [s for s in self.spans if s.op_id == op_id]

    def jobs_of(self, sp: Span) -> list[int]:
        """Jobs submitted while ``sp`` was the innermost span on a thread,
        plus the unlabelled jobs it claimed."""
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(sp.group))
        return jobs + sp.attrs.get("ungrouped_jobs", [])

    def stages_of(self, jobs: list[int]) -> int:
        tracker, stages = self.sc.statusTracker(), set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        return len(stages)
