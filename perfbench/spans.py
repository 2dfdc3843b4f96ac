"""Span recorder for the traced benchmark run.

Spans are recorded from outside the package: :meth:`Recorder.wrap`
replaces a public function or method with a wrapper that records one
span per call (name, start, end, parent, run id) plus the Spark jobs and
tasks launched during it.  Spans stay in memory; :meth:`Recorder.dump`
writes them out once the run ends.  A layer's self time is its span's
duration minus the time its child spans cover.

Job and task counts are deltas of the driver scheduler's id counters,
which rise by one per submitted job and per launched task attempt —
across every thread, which suits a single-client closed loop.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import uuid
from collections import defaultdict
from typing import Any, Callable


class SparkCounters:
    """Jobs and tasks submitted so far in this SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self._dag = sc.dagScheduler()
        self._tasks = sc.taskScheduler()

    def read(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._tasks.nextTaskId())


class Recorder:
    """In-memory span store.  Disabled recorders still call through, so
    wrappers can stay installed while a run measures untraced."""

    def __init__(self, counters: SparkCounters):
        self.run_id = uuid.uuid4().hex[:12]
        self.counters = counters
        self.enabled = False
        self.spans: list[dict[str, Any]] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    # ------------------------------------------------------------ record
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn: Callable, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        span = {
            "name": name,
            "run": self.run_id,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        c0 = self.counters.read()
        stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            c1 = self.counters.read()
            span["end"] = time.perf_counter()
            span["jobs"] = c1[0] - c0[0]
            span["tasks"] = c1[1] - c0[1]

    # ------------------------------------------------------------- patch
    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a class, module or instance attribute)
        with a wrapper that records one span per call."""
        fn = getattr(owner, attr)
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return rec.call(name, fn, *args, **kwargs)

        setattr(owner, attr, wrapper)

    # ---------------------------------------------------------- results
    def closed(self) -> list[dict[str, Any]]:
        return [s for s in self.spans if "end" in s]

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name, in ms."""
        spans = self.closed()
        child_ms: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if "end" in s:
                out[s["name"]] += (s["end"] - s["start"]) * 1e3 - child_ms[i]
        return dict(out)

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, total ms, jobs and tasks."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "ms": 0.0, "jobs": 0, "tasks": 0}
        )
        for s in self.closed():
            t = out[s["name"]]
            t["calls"] += 1
            t["ms"] += (s["end"] - s["start"]) * 1e3
            t["jobs"] += s["jobs"]
            t["tasks"] += s["tasks"]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.closed():
                f.write(json.dumps(s) + "\n")
