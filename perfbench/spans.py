"""Span recording for the traced run.

Wrappers are installed from the benchmark's own files around the public
functions of the engine's modules, at the attribute the callers look the
function up by. A span records its name, start, end, parent span and op id.
Spans are kept in memory and written out when the run ends.

The driver runs one thread of engine calls, so spans nest as a stack and a
span's children never overlap each other: self time is a span's duration
minus the sum of its direct children's durations.

Spark's own work is counted through a job group per op: the jobs, stages
and tasks that ran under the group, read from ``statusTracker`` once the
listener bus has drained.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable


class Tracer:
    """Spans (name, start, end, parent, op, id) and named counts. Recording
    happens only while ``active``; workloads bump ``op`` before each op."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, int, int]] = []
        self.op = 0
        self.active = False
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[tuple[int, str, float, int, int]] = []
        self._undo: list[tuple[Any, str, Any]] = []
        self._next = 0

    # ---------------------------------------------------------------- spans

    def _enter(self, name: str) -> None:
        parent = self._stack[-1][0] if self._stack else -1
        self._stack.append((self._next, name, time.perf_counter(), parent, self.op))
        self._next += 1

    def _exit(self) -> None:
        end = time.perf_counter()
        idx, name, start, parent, op = self._stack.pop()
        self.spans.append((name, start, end, parent, op, idx))

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        self._enter(name)
        try:
            yield
        finally:
            self._exit()

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            self.counts[name] += n

    # ------------------------------------------------------------- wrappers

    def wrap(self, owner: Any, attr: str, name: str,
             after: Callable[..., None] | None = None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span named
        ``name`` and then calls ``after(args, kwargs, result)``. Handles
        plain functions, methods, classmethods and staticmethods."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            tracer._enter(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._exit()
            if after is not None:
                after(args, kwargs, result)
            return result

        setattr(owner, attr, kind(wrapper) if kind else wrapper)
        self._undo.append((owner, attr, raw))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._undo):
            setattr(owner, attr, raw)
        self._undo.clear()

    # -------------------------------------------------------------- summary

    def mark(self) -> int:
        """Position in the span log; spans after it belong to what follows."""
        return len(self.spans)

    def totals(self, since: int = 0) -> tuple[dict[str, float], dict[str, float], dict[str, int]]:
        """(inclusive seconds, self seconds, calls) per span name over the
        spans recorded after ``since``."""
        spans = self.spans[since:]
        child = defaultdict(float)
        for name, start, end, parent, op, idx in spans:
            if parent >= 0:
                child[parent] += end - start
        incl, self_s, calls = defaultdict(float), defaultdict(float), defaultdict(int)
        for name, start, end, parent, op, idx in spans:
            incl[name] += end - start
            self_s[name] += end - start - child[idx]
            calls[name] += 1
        return incl, self_s, calls

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op, idx in self.spans:
                f.write(json.dumps({"id": idx, "name": name, "start": start,
                                    "end": end, "parent": parent, "op": op}) + "\n")


class SparkGroups:
    """One Spark job group per op (or per phase of an op); counts the jobs,
    stages and tasks each group ran."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    @contextmanager
    def group(self, label: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far, so
        the status store holds every job the groups ran."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def counts(self, gid: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of one group; a stage that several jobs
        list (a reused shuffle) counts once."""
        jobs = list(self.tracker.getJobIdsForGroup(gid))
        stages = set()
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            st = self.tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
        return len(jobs), len(stages), tasks
