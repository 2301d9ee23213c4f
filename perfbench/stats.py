"""Small statistics and machine-state helpers for the benchmark."""

from __future__ import annotations

import os
import statistics
import time


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail(xs, name: str, unit_scale: float = 1.0) -> tuple[str, float] | None:
    """The higher of p99/p90 with at least ten samples beyond it, as
    (metric name with that percentile, value × unit_scale), or None."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99, 90):
        if n * (100 - p) / 100 >= 10:
            return f"{name}_p{p}", xs[min(n - 1, int(n * p / 100))] * unit_scale
    return None


def probe_ms() -> float:
    """A fixed pure-Python job; its best-of-5 time shows a contended box."""
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(100_000))
        best = min(best, time.perf_counter() - t)
    return best * 1e3


def box_state() -> dict:
    return {"load1": round(os.getloadavg()[0], 2), "probe_ms": round(probe_ms(), 3)}


def _descendants(pid: int) -> list[int]:
    kids = []
    try:
        with open(f"/proc/{pid}/task/{pid}/children", encoding="ascii") as fh:
            kids = [int(x) for x in fh.read().split()]
    except OSError:
        return []
    out = list(kids)
    for k in kids:
        out += _descendants(k)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def mem_peak_mb() -> float:
    """Peak resident set of this driver process plus the JVM and any
    other process it started (each process's high-water mark)."""
    me = os.getpid()
    return sum(_hwm_kb(p) for p in [me] + _descendants(me)) / 1024.0
