"""Shared run state for the benchmark workloads: the session, the run's
scratch directory, the operation/correctness tally and the statistics
every workload reports."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from spans import Recorder

# set-up is repeated this many times per run and its median reported
SETUP_REPS = 3


@dataclass
class Run:
    spark: Any
    workdir: str
    seed: int
    seconds: float
    recorder: Recorder | None  # None on an untraced run
    size: str = "full"  # "tiny" shrinks every input for the self-test
    attempted: int = 0
    failed: int = 0
    _dirs: int = field(default=0, repr=False)

    @property
    def tiny(self) -> bool:
        return self.size == "tiny"

    def fresh_dir(self, name: str) -> str:
        """A new empty directory under the run's scratch dir, so no
        run or set-up repetition ever sees another one's state."""
        self._dirs += 1
        path = os.path.join(self.workdir, f"{self._dirs:03d}-{name}")
        os.makedirs(path)
        return path

    def drop_dir(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def op(self, ok: bool) -> None:
        """Tally one measured operation."""
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, ok: bool, what: str) -> None:
        """Tally one correctness check; failures are explained on stderr."""
        self.op(ok)
        if not ok:
            print(f"correctness check failed: {what}", file=sys.stderr)


def measure(run: Run, step: Callable[[], list[float]], need: int) -> tuple[list, list]:
    """Call ``step`` (which returns the latencies it measured) until the
    window has run ``run.seconds`` and ``need`` samples were taken.

    On a traced run calls alternate in ABBA order (traced, untraced,
    untraced, traced, ...) and each side needs ``need`` samples: a steady
    drift in operation time, from JIT warm-up or growing state, falls
    on both sides alike, so their gap is the tracing overhead.
    Returns ``(traced, untraced)``; ``traced`` is empty on an untraced
    run.
    """
    rec = run.recorder
    traced: list[float] = []
    untraced: list[float] = []
    t_end = time.perf_counter() + run.seconds
    calls = 0
    while True:
        on = rec is not None and calls % 4 in (0, 3)
        if rec is not None:
            rec.enabled = on
        (traced if on else untraced).extend(step())
        calls += 1
        done = len(untraced) >= need and (rec is None or len(traced) >= need)
        if done and time.perf_counter() >= t_end:
            break
    if rec is not None:
        rec.enabled = False
    return traced, untraced


def overhead_pct(traced: list[float], untraced: list[float]) -> float:
    return (median(traced) / median(untraced) - 1) * 100


def timed(fn: Callable[[], Any]) -> tuple[float, Any]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def percentile(xs: list[float], p: int) -> float:
    """The p-th percentile (statistics.quantiles, exclusive method)."""
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=100)[p - 1]


def metric(value: float, unit: str) -> dict[str, Any]:
    return {"value": float(value), "unit": unit}


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python driver plus its JVM child, from /proc."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
