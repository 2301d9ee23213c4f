#!/usr/bin/env python3
"""Smoke self-test of the benchmark at tiny input sizes.

    python3 perfbench/smoke_test.py [workload ...]

For each workload (default: all in BENCHMARK.json) it runs one untraced
and one traced run with ``--scale tiny`` and asserts that the last line
is the result object, that every end-to-end (untraced) or per-layer
(traced) metric of BENCHMARK.json is printed with its unit, that the
workload's own metrics and the fail ratio are printed, and that every
check passed. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OWN_METRICS = {
    "online_serving": ["serve.load_s", "serve.get_p50_us", "serve.ann_p50_ms",
                       "serve.ann_recall_at_10", "serve.ivf_median_ms", "serve.multiset_p50_ms"],
    "batch_pipeline": ["offline.cycle_s", "ingest.commit_p50_s", "ingest.read_p50_s",
                       "ingest.write_amp", "corpus.docs_per_s"],
}


def run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import per_layer_names

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert layer_units == per_layer_names(), "BENCHMARK.json per_layer != spec.json"
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    names = argv or [w["name"] for w in bench["workloads"]]
    for workload in names:
        for trace, units in ((0, e2e_units), (1, layer_units)):
            out, text = run(workload, trace)
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == units, f"{workload} trace={trace}: metrics differ from BENCHMARK.json"
            assert out["correct"] and out["failed"] == 0, f"{workload}: checks failed\n{text}"
            assert out["attempted"] >= 1
            for name in OWN_METRICS[workload] + ["mem_peak_mb"]:
                assert f"metric {name} " in text, f"{workload}: {name} not printed"
            assert "fail_ratio 0 " in text and "box start" in text
            print(f"ok {workload} trace={trace}: {len(got)} metrics, "
                  f"{out['attempted']} attempted", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
