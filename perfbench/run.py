#!/usr/bin/env python3
"""Benchmark for embeddinghub_spark: one seeded closed-loop workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One Python process, one client, one
SparkSession from ``get_spark`` at ``SPARK_GRAFT_CPUS`` = the CPUs this
process may use. A run:

1. starts the session (timed, plus one tiny job);
2. generates the workload's inputs from ``--seed`` under
   ``perfbench/.work`` several times (the median counts), loads any
   serving state and runs untimed warm-up requests — together ``setup_s``;
3. sends requests in a closed loop for ``--seconds`` seconds, each only
   after the previous one returned;
4. checks the outputs (untimed) against DuckDB replays and invariants.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs pairs
of steps on the same state, one untraced and one traced (every public
function of the library's layers wrapped in spans, ``tracer.py``). It
prints the per-layer metrics named in
``spec.json`` per traced step, the eager-job share and the tracing
overhead (median traced step time over median untraced step time,
minus 1). Spans are written to ``perfbench/.out``.

Human-readable lines (machine state, input sizes, the workload's own
metrics with units, check results, fail ratio) come first; the last
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

E2E_UNITS = {"setup_s": "s", "request_p50_ms": "ms", "requests_per_s": "1/s"}


def workloads(scale: str) -> dict:
    from perfbench.wl_batch import BatchPipeline
    from perfbench.wl_serving import Serving

    return {w.name: w for w in (Serving(scale), BatchPipeline(scale))}


def layer_spec() -> dict:
    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as fh:
        return json.load(fh)


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name → unit, in ``spec.json`` order."""
    spec = layer_spec()
    units = spec["units"]
    out = {}
    for layer, info in spec["layers"].items():
        kinds = list(spec["common_kinds"])
        if info["kinds"] == "dataframe":
            kinds += spec["dataframe_kinds"]
        elif info["kinds"] == "spark":
            kinds.append("jobs_build")
        for k in kinds + info.get("extra", []):
            out[f"{layer}.{k}"] = units[k]
    for name in spec["run_metrics"]:
        out[name] = units[name]
    return out


class Ctx:
    """What a workload step needs: the session, its work dir and, in a
    traced run, the tracer that attributes actions to layers."""

    def __init__(self, spark, work: str):
        self.spark = spark
        self.work = work
        self.tracer = None

    def span(self, layer: str, name: str):
        """A benchmark-side span, for layer work the library call does not
        cover (waiting on a streaming query)."""
        from contextlib import nullcontext

        if self.tracer is None or not self.tracer.active:
            return nullcontext()
        return self.tracer.span(layer, name)

    def collect(self, df):
        """Collect ``df`` to pandas; in the traced phase, as the exec
        phase of the layer that built it."""
        if self.tracer is None:
            return df.toPandas()
        return self.tracer.consume(df, lambda d: d.toPandas())


class Loop:
    """Closed loop with one client. A step returns the operations it ran
    as (kind, seconds, ok). A request is what the client waits for: one
    operation (serving), or the whole step when the workload sets
    ``request_is_step`` (a pipeline round). ``run`` starts steps until
    ``seconds`` have passed and always finishes the step it started."""

    def __init__(self):
        self.latency_s: list[float] = []  # one entry per request
        self.step_rate: list[float] = []  # requests per second of each step
        self.step_s: list[float] = []
        self.ops = 0
        self.failed = 0

    def run(self, wl, ctx, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            self.step(wl, ctx)

    def step(self, wl, ctx) -> None:
        t0 = time.perf_counter()
        try:
            done = wl.step(ctx)
        except Exception:
            done = [("step", time.perf_counter() - t0, False)]
            print(f"step failed:\n{traceback.format_exc(limit=6)}", file=sys.stderr)
        dt = time.perf_counter() - t0
        self.step_s.append(dt)
        self.ops += len(done)
        self.failed += sum(1 for _, _, ok in done if not ok)
        requests = [dt] if wl.request_is_step else [d for _, d, _ in done]
        self.latency_s += requests
        self.step_rate.append(len(requests) / dt)


def run_paired(wl, ctx, tracer, seconds: float) -> tuple[Loop, Loop]:
    """After a second untimed warm-up, pairs of steps on the same state,
    one untraced and one traced (the span wrappers installed just for
    it), until ``seconds`` have passed. Pairs alternate which step runs
    first, so that over an even number of pairs a drift in the machine's
    speed cancels."""
    # the first steps after the warm-up still run slower while the JVM
    # compiles, which would count against whichever half ran first
    for _ in range(wl.warmup_steps):
        wl.step(ctx)
    wl.reset()
    plain, traced = Loop(), Loop()
    deadline = time.perf_counter() + seconds
    pair = 0
    while pair == 0 or time.perf_counter() < deadline:
        for with_spans in ((False, True) if pair % 2 == 0 else (True, False)):
            if not with_spans:
                plain.step(wl, ctx)
                continue
            tracer.install()
            ctx.tracer = tracer
            with tracer.operation():
                traced.step(wl, ctx)
            ctx.tracer = None
            tracer.uninstall()
        pair += 1
    return plain, traced


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the smoke test")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "embeddinghub_spark", "__init__.py")):
        return _fail(f"embeddinghub_spark not found under {ROOT}; run from a full checkout")
    if not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
        return _fail("tools/check.py not found; run from a full checkout")
    t_start = time.perf_counter()
    py_start = time.process_time()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # keep every temp file, shuffle block and JVM temp inside the checkout;
    # JVM perf data off, as the JVMs would write it under /tmp
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = work
    try:
        return _run(args, work, t_start, py_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass


def _run(args, work: str, t_start: float, py_start: float) -> int:
    import numpy as np

    from perfbench.checks import Checks
    from perfbench.stats import box_state, median, mem_peak_mb

    wls = workloads(args.scale)
    if args.workload not in wls:
        return _fail(f"unknown workload {args.workload!r}; choose from {sorted(wls)}")
    wl = wls[args.workload]
    box_start = box_state()

    from embeddinghub_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_s = time.perf_counter() - t_start
        session_py = time.process_time() - py_start
        ctx = Ctx(spark, work)

        gen_s = []
        for rep in range(SETUP_REPS):
            rep_dir = os.path.join(work, f"inputs{rep}")
            t = time.perf_counter()
            sizes = wl.generate(np.random.default_rng(args.seed), rep_dir)
            gen_s.append(time.perf_counter() - t)
            if rep:
                shutil.rmtree(os.path.join(work, f"inputs{rep - 1}"), ignore_errors=True)
        t = time.perf_counter()
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t
        for _ in range(wl.warmup_steps):
            wl.step(ctx)
        wl.reset()
        warmup_s = time.perf_counter() - t - prepare_s
        setup_s = session_s + median(gen_s) + prepare_s + warmup_s

        tracer = traced_loop = None
        if args.trace:
            from perfbench.tracer import Tracer

            tracer = Tracer(spark, list(layer_spec()["layers"]))
            tracer.record("session", "get_spark", session_s, session_py)
            loop, traced_loop = run_paired(wl, ctx, tracer, args.seconds)
        else:
            loop = Loop()
            loop.run(wl, ctx, args.seconds)

        t = time.perf_counter()
        checks = Checks()
        wl.check(ctx, checks)
        checks_s = time.perf_counter() - t
        details = wl.details()
        extra_layer = wl.layer_extras(ctx) if tracer else {}
        mem_mb = mem_peak_mb()
    finally:
        _stop(spark)
    box_end = box_state()

    loops = [lp for lp in (loop, traced_loop) if lp is not None]
    ops = sum(lp.ops for lp in loops)
    failed_ops = sum(lp.failed for lp in loops)
    attempted = ops + len(checks.results)
    failed = failed_ops + checks.failed

    print(f"workload {wl.name} seed {args.seed} seconds {args.seconds} trace {args.trace} "
          f"cpus {os.environ['SPARK_GRAFT_CPUS']}")
    print(f"box start load1={box_start['load1']} probe_ms={box_start['probe_ms']} | "
          f"end load1={box_end['load1']} probe_ms={box_end['probe_ms']}")
    print("inputs " + json.dumps(sizes, sort_keys=True))
    print(f"setup session_s={session_s:.3f} gen_s(median of {SETUP_REPS})={median(gen_s):.3f} "
          f"prepare_s={prepare_s:.3f} warmup_s={warmup_s:.3f} requests={len(loop.latency_s)} "
          f"ops={loop.ops} busy_s={sum(loop.step_s):.3f} checks_s={checks_s:.3f}")
    for lp, label in ((loop, "untraced"), (traced_loop, "traced")):
        if lp is not None:
            print(f"steps {label} s=" + ",".join(f"{x:.3f}" for x in lp.step_s))
    for name, (value, unit) in details.items():
        print(f"metric {name} {value:.6g} {unit}")
    print(f"metric mem_peak_mb {mem_mb:.6g} MB")
    for name, ok, detail in checks.results:
        print(f"check {name} {'PASS' if ok else 'FAIL'} {detail}")
    print(f"fail_ratio {failed / attempted:.6g} ({failed}/{attempted})")

    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "request_p50_ms": median(loop.latency_s) * 1e3,
            "requests_per_s": median(loop.step_rate),
        }
        units = E2E_UNITS
    else:
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        tracer.dump(os.path.join(HERE, ".out", f"spans-{wl.name}-{args.seed}.json"))
        metrics = layer_metrics(tracer, extra_layer, len(traced_loop.step_s))
        metrics["trace.overhead_share"] = median(traced_loop.step_s) / median(loop.step_s) - 1.0
        units = per_layer_names()
        missing = set(units) - set(metrics)
        if missing:
            return _fail(f"per-layer metrics not produced: {sorted(missing)}")
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(out))
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit: the JVM quits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(tracer, extra: dict, steps: int) -> dict[str, float]:
    """Per-layer metrics per traced step (``session``: its set-up figures)."""
    out = {}
    for layer, m in tracer.layer_metrics(steps).items():
        for k, v in m.items():
            out[f"{layer}.{k}"] = v
    out["operators.pit.bucketed_calls"] = tracer.count("asof_join_union_bucketed") / steps
    probes = tracer.inclusive("OnlineStore.nearest", "input_bytes")
    out["functions.ann_index.input_bytes"] = sum(probes) / len(probes) if probes else 0.0
    build = sum(s.counters["jobs"] for s in tracer.spans if s.phase == "build")
    total = sum(s.counters["jobs"] for s in tracer.spans)
    out["spark.jobs_build"] = build / steps
    out["spark.jobs_exec"] = (total - build) / steps
    out["spark.eager_job_share"] = build / total if total else 0.0
    for name in ("sources.delta_log.files_rewritten_ratio",
                 "sources.iceberg_write.files_rewritten_ratio",
                 "functions.dedup.candidate_precision"):
        out[name] = extra.get(name, 0.0)
    return out


if __name__ == "__main__":
    sys.exit(main())
