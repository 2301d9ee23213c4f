"""Span tracing around calls into the library's layers.

A layer is a module path under ``embeddinghub_spark`` (``operators.pit``,
``serving.online``, ...). ``Tracer.install`` wraps every public function
and public method defined in those modules and rebinds each name that
other loaded modules imported, so a call from the benchmark and a call
from one layer into another both open a span. Nothing in the library is
edited; ``uninstall`` restores the originals. The wrappers are installed
only around traced steps; untraced runs and untraced steps never see them.

A span records its name, layer, start, end, parent span and the run id
of the benchmark operation it belongs to, plus Spark counters. There is
one client thread, so the Spark jobs submitted while a span is the
innermost open one (a job-id range) are that span's own jobs, including
jobs that a streaming query's micro-batch thread submits. Their stage
totals are read from the status store as the span closes, before
retention evicts them.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

PACKAGE = "embeddinghub_spark"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    phase: str  # "build": the library call; "exec": the action consuming its DataFrame
    parent: int | None
    run_id: int
    start: float
    py0: float
    job_lo: int
    end: float = 0.0
    wall: float = 0.0
    py_cpu: float = 0.0
    child_wall: float = 0.0
    child_py: float = 0.0
    child_jobs: list = field(default_factory=list)  # (lo, hi) ranges of children
    jobs: list = field(default_factory=list)  # own job ids
    counters: dict = field(default_factory=dict)  # own stage totals


_STAGE_FIELDS = {
    "shuffle_bytes": ("shuffleReadBytes", "shuffleWriteBytes"),
    "input_bytes": ("inputBytes",),
    "jvm_cpu_ns": ("executorCpuTime",),
}


class Tracer:
    def __init__(self, spark, layers: list[str]):
        self.spark = spark
        self.layers = layers
        self.spans: list[Span] = []
        self.run_id = 0
        self._stack: list[Span] = []
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []
        self._owner: dict[int, str] = {}  # id(DataFrame) -> layer that built it
        self._paused = 0
        sc = spark.sparkContext
        self._sc = sc
        self._dag = sc._jsc.sc().dagScheduler()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._tracker = sc.statusTracker()
        self._empty_q = sc._gateway.new_array(sc._jvm.double, 0)

    # -- installation ---------------------------------------------------

    def install(self) -> None:
        import importlib

        originals: dict[int, object] = {}
        for layer in self.layers:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrapped = self._wrap(obj, layer, name)
                    originals[id(obj)] = wrapped
                    self._set(mod, name, wrapped)
                elif inspect.isclass(obj):
                    for mname, meth in list(vars(obj).items()):
                        if not mname.startswith("_") and inspect.isfunction(meth):
                            self._set(obj, mname, self._wrap(meth, layer, f"{name}.{mname}"))
        # rebind names other modules imported with `from x import f`
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname.startswith(PACKAGE) or mname.startswith("perfbench")):
                continue
            for name, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and w is not obj:
                    self._set(mod, name, w)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    def _set(self, owner, name, value) -> None:
        self._patched.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._paused or threading.get_ident() != tracer._main:
                return fn(*args, **kwargs)
            with tracer.span(layer, name) as sp:
                out = fn(*args, **kwargs)
            for df in out if isinstance(out, tuple) else (out,):
                if isinstance(df, DataFrame):
                    tracer._owner[id(df)] = sp.layer  # outermost return wins
            return out

        traced.__wrapped_by_perfbench__ = True
        return traced

    # -- spans ----------------------------------------------------------

    def next_job(self) -> int:
        return int(self._dag.nextJobId())

    @contextmanager
    def span(self, layer: str, name: str, phase: str = "build"):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, phase,
                  parent.sid if parent else None, self.run_id,
                  time.perf_counter(), time.process_time(), self.next_job())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            self._close(sp, parent)

    def _close(self, sp: Span, parent: Span | None) -> None:
        sp.end = time.perf_counter()
        sp.wall = sp.end - sp.start
        sp.py_cpu = time.process_time() - sp.py0
        job_hi = self.next_job()
        nested = set()
        for lo, hi in sp.child_jobs:
            nested.update(range(lo, hi))
        sp.jobs = [j for j in range(sp.job_lo, job_hi) if j not in nested]
        if sp.jobs:
            self._bus.waitUntilEmpty()
            sp.counters = self._stage_totals(sp.jobs)
        sp.counters["jobs"] = len(sp.jobs)
        if parent is not None:
            parent.child_wall += sp.wall
            parent.child_py += sp.py_cpu
            parent.child_jobs.append((sp.job_lo, job_hi))

    def _stage_totals(self, jobs: list[int]) -> dict:
        stages = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tot = {k: 0 for k in _STAGE_FIELDS}
        for sid in stages:
            try:
                data = self._store.stageData(sid, False, self._sc._jvm.java.util.ArrayList(),
                                             False, self._empty_q)
            except Exception:  # evicted or never ran (skipped stage)
                continue
            for i in range(data.size()):
                sd = data.apply(i)
                for k, getters in _STAGE_FIELDS.items():
                    tot[k] += sum(int(getattr(sd, g)()) for g in getters)
        return tot

    def record(self, layer: str, name: str, wall: float, py_cpu: float) -> None:
        """Add a closed span for work done before the tracer existed."""
        now = time.perf_counter()
        self.spans.append(Span(len(self.spans), name, layer, "build", None, 0, now - wall,
                               0.0, 0, end=now, wall=wall, py_cpu=py_cpu,
                               counters={"jobs": 0}))

    @contextmanager
    def operation(self):
        """One benchmark operation: spans opened inside share a run id."""
        self.run_id += 1
        yield

    @contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    @property
    def active(self) -> bool:
        return not self._paused

    def consume(self, df: DataFrame, action):
        """Run ``action(df)`` as the exec phase of the layer that built ``df``."""
        layer = self._owner.get(id(df))
        if layer is None or self._paused:
            return action(df)
        with self.span(layer, "exec", phase="exec"):
            return action(df)

    # -- reporting ------------------------------------------------------

    def layer_metrics(self, steps: int) -> dict[str, dict[str, float]]:
        """Per layer and traced step: entries into it (calls), self time
        and self Python CPU, time in actions on its DataFrames (exec_s),
        jobs fired while building, and the stage totals of its own jobs.
        Spans of the traced steps (run id > 0) count 1/``steps`` each;
        spans recorded at set-up (run id 0: the session start) count once."""
        by_id = {s.sid: s for s in self.spans}
        out = {layer: {"calls": 0.0, "wall_s": 0.0, "py_cpu_s": 0.0, "exec_s": 0.0,
                       "jobs_build": 0.0, "shuffle_bytes": 0.0, "jvm_cpu_s": 0.0}
               for layer in self.layers}
        for s in self.spans:
            w = 1.0 / steps if s.run_id else 1.0
            m = out[s.layer]
            m["wall_s"] += w * (s.wall - s.child_wall)
            m["py_cpu_s"] += w * (s.py_cpu - s.child_py)
            m["shuffle_bytes"] += w * s.counters.get("shuffle_bytes", 0)
            m["jvm_cpu_s"] += w * s.counters.get("jvm_cpu_ns", 0) / 1e9
            if s.phase == "exec":
                m["exec_s"] += w * s.wall
                continue
            m["jobs_build"] += w * s.counters["jobs"]
            parent = by_id.get(s.parent)
            if parent is None or parent.layer != s.layer:
                m["calls"] += w
        return out

    def inclusive(self, name: str, counter: str) -> list[int]:
        """Per span called ``name``: ``counter`` summed over the span and
        every span under it."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)

        def total(s: Span) -> int:
            return s.counters.get(counter, 0) + sum(total(c) for c in children.get(s.sid, []))

        return [total(s) for s in self.spans if s.name == name]

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        rows = [{
            "id": s.sid, "name": s.name, "layer": s.layer, "phase": s.phase,
            "parent": s.parent, "run_id": s.run_id, "start": round(s.start, 6),
            "end": round(s.end, 6), "self_s": round(s.wall - s.child_wall, 6),
            "py_cpu_s": round(s.py_cpu - s.child_py, 6), "jobs": s.jobs,
            "counters": s.counters,
        } for s in self.spans]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(rows, fh)
