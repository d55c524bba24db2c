"""In-memory spans around the calls into the engine's layers.

A span records its name, start, end, parent, the unit of work it ran in
(a pass or a dedup round) and the Spark job-id range it covered. Spans
live in memory and are folded into per-layer numbers when the run ends.

Self time is a span's duration minus the part of it that its child spans
cover. Jobs and tasks are inclusive: Spark numbers jobs densely, so the
job ids created while a span was open are exactly the jobs it ran
(children included). Engine functions that build lazy DataFrames return
before any work runs; their cost lands on the span of the action that
executes them.

Spans opened on another thread (the streaming `foreachBatch` callback
runs on a Py4J callback thread) take the main thread's innermost span as
their parent.
"""

from __future__ import annotations

import importlib
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    unit: int
    job_lo: int
    job_hi: int
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, sc) -> None:
        self._sc = sc
        self.spans: list[Span] = []
        self.enabled = False
        self.unit = 0
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []
        # unit -> [(span name, parent span name, returned value)]
        self.captured: dict[int, list[tuple[str, str | None, object]]] = {}

    def next_job_id(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            outer = stack or self._stacks.get(self._main, [])
            parent = outer[-1] if outer else None
            idx = len(self.spans)
            self.spans.append(Span(name, 0.0, 0.0, parent, self.unit,
                                   self.next_job_id(), 0))
            if parent is not None:
                self.spans[parent].children.append(idx)
            stack.append(idx)
        s = self.spans[idx]
        s.start = time.perf_counter()
        try:
            yield idx
        finally:
            s.end = time.perf_counter()
            s.job_hi = self.next_job_id()
            with self._lock:
                stack.pop()

    def wrap(self, module_name: str, attr: str, name: str,
             under: str | None = None) -> None:
        """Replace `module.attr` (`attr` may be `Class.method`) by a wrapper
        that opens span `name`; with `under`, only when the enclosing span
        is called `under`. Traced calls keep their return value (with the
        parent span's name) for counting after the unit of work ends."""
        owner = importlib.import_module(module_name)
        *path, leaf = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        orig = getattr(owner, leaf)

        def traced(*args, **kwargs):
            if under is not None and self._parent_name() != under:
                return orig(*args, **kwargs)
            with self.span(name) as idx:
                value = orig(*args, **kwargs)
                if idx is not None:
                    p = self.spans[idx].parent
                    self.captured.setdefault(self.unit, []).append(
                        (name, self.spans[p].name if p is not None else None,
                         value))
                return value

        setattr(owner, leaf, traced)
        self._patched.append((owner, leaf, orig))

    def _parent_name(self) -> str | None:
        """Name of the span a span opened now on this thread would nest in."""
        with self._lock:
            stack = (self._stacks.get(threading.get_ident())
                     or self._stacks.get(self._main, []))
            return self.spans[stack[-1]].name if stack else None

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # --- folding ---------------------------------------------------------

    def self_time(self, i: int) -> float:
        s = self.spans[i]
        kids = sorted((self.spans[c].start, self.spans[c].end)
                      for c in s.children)
        covered, lo, hi = 0.0, None, None
        for a, b in kids:
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        return (s.end - s.start) - covered

    def per_unit(self, name: str, units: list[int]) -> dict[str, list[float]]:
        """Per unit of work: total self seconds, call count, jobs and
        tasks of the spans called `name`."""
        out = {"self_s": [], "calls": [], "jobs": [], "tasks": []}
        for u in units:
            idx = [i for i, s in enumerate(self.spans)
                   if s.name == name and s.unit == u]
            # jobs of nested same-name spans are counted once
            outer = [i for i in idx
                     if not self._has_ancestor_named(i, name)]
            jobs = [j for i in outer
                    for j in range(self.spans[i].job_lo, self.spans[i].job_hi)]
            out["self_s"].append(sum(self.self_time(i) for i in idx))
            out["calls"].append(len(idx))
            out["jobs"].append(len(jobs))
            out["tasks"].append(sum(self._tasks(j) for j in jobs))
        return out

    def _has_ancestor_named(self, i: int, name: str) -> bool:
        p = self.spans[i].parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def _tasks(self, job_id: int) -> int:
        tracker = self._sc.statusTracker()
        info = tracker.getJobInfo(job_id)
        if info is None:
            return 0
        n = 0
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                n += st.numCompletedTasks
        return n

    def durations_ms(self, name: str, units: list[int]) -> list[float]:
        return [(s.end - s.start) * 1000.0 for s in self.spans
                if s.name == name and s.unit in units]


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0
