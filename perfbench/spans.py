"""Traced mode: spans around the package's public CDC calls, installed
from benchmark code at run time (the package itself is not edited).

Each span tags the Spark jobs it submits with its own job group, so the
job and task counts of a call are read back from ``statusTracker()``.
Spans nest per thread; a span's self time is its duration minus its
children's.  Spans stay in memory and are written out by :meth:`dump`."""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Span:
    __slots__ = ("id", "name", "parent", "t0", "t1", "child_s", "overhead_s", "jobs", "tasks", "attrs")

    def __init__(self, sid: int, name: str, parent: Span | None):
        self.id, self.name, self.parent = sid, name, parent
        self.t0 = self.t1 = 0.0
        self.child_s = 0.0
        self.overhead_s = 0.0  # tracer counters computed inside the span
        self.jobs = self.tasks = 0
        self.attrs: dict = {}

    @property
    def dur_s(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur_s - self.child_s - self.overhead_s


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _counts(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in list(info.stageIds) if info else []:
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    @contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(next(self._ids), name, parent)
        group = f"perfbench-{sp.id}"
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, group)
        stack.append(sp)
        self._book(time.perf_counter() - b0)
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            b1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            sp.jobs, sp.tasks = self._counts(group)
            if parent is not None:
                parent.child_s += sp.dur_s
            with self._lock:
                self.spans.append(sp)
            self._book(time.perf_counter() - b1)

    def _book(self, dt: float, sp: Span | None = None) -> None:
        """Account tracer time; inside a span it is excluded from self time."""
        with self._lock:
            self.bookkeeping_s += dt
        if sp is not None:
            sp.overhead_s += dt

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call.  ``before(span,
        args, kwargs)`` may return replacement ``(args, kwargs)``;
        ``after(span, args, kwargs, result)`` records counters."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                if before is not None:
                    b = time.perf_counter()
                    args, kwargs = before(sp, args, kwargs)
                    self._book(time.perf_counter() - b, sp)
                try:
                    out = orig(*args, **kwargs)
                except Exception as e:
                    sp.attrs["error"] = type(e).__name__
                    raise
                if after is not None:
                    b = time.perf_counter()
                    after(sp, args, kwargs, out)
                    self._book(time.perf_counter() - b, sp)
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.t0):
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent.id if s.parent else None,
                    "t0": s.t0, "t1": s.t1, "self_ms": s.self_s * 1000, "jobs": s.jobs,
                    "tasks": s.tasks, **s.attrs,
                }) + "\n")


def parquet_rows(path: str) -> int:
    """Rows in every parquet file under ``path``, from footers only."""
    import pyarrow.parquet as pq

    rows = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(dirpath, name)).metadata.num_rows
    return rows
