"""batch_pipeline: the Spark-side work of a feature store, one round per step.

A round is one request: a pipeline run that executes every stage of
three parts in order (each stage's latency is printed too):

- ``offline`` (wl_offline.py): the offline vocabulary — a PIT training
  set with a lag over a balanced and a whale source, batch features
  over two materializations, a split, an incremental read;
- ``ingest`` (wl_ingest.py): one change batch landed in Delta, Iceberg
  and the streaming bucketed snapshot, then all three read back;
- ``corpus`` (wl_corpus.py): a curation pass — normalization, exact
  dedup, MinHash band signatures, domain tags and source interleaving.

Every timed round does the same work. A round on 4 vCPUs takes longer
than the benchmark's 10 s window, so an untraced run usually measures
one round after the warm-up round, and a traced run two (one untraced,
one traced). A failing stage is counted and the round goes on with the
next stage.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

from perfbench.stats import median
from perfbench.wl_corpus import Corpus
from perfbench.wl_ingest import Ingest
from perfbench.wl_offline import Offline


class BatchPipeline:
    name = "batch_pipeline"
    warmup_steps = 1
    request_is_step = True  # the client waits for the whole pipeline run

    def __init__(self, scale: str):
        self.parts = [Offline(scale), Ingest(scale), Corpus(scale)]
        self.reset()

    def reset(self) -> None:
        self.rounds: list[dict[str, float]] = []
        for part in self.parts:
            if hasattr(part, "reset"):
                part.reset()

    def generate(self, rng, out_dir: str) -> dict:
        return {p.name: p.generate(rng, os.path.join(out_dir, p.name)) for p in self.parts}

    def prepare(self, ctx) -> None:
        for part in self.parts:
            part.prepare(ctx)

    def step(self, ctx) -> list[tuple[str, float, bool]]:
        done, latency = [], {}
        for part in self.parts:
            for stage in part.stages():
                kind = f"{part.name}.{stage.__name__}"
                t = time.perf_counter()
                ok = True
                try:
                    stage(ctx)
                except Exception:
                    ok = False
                    print(f"stage {kind} failed:\n{traceback.format_exc(limit=6)}",
                          file=sys.stderr)
                latency[kind] = time.perf_counter() - t
                done.append((kind, latency[kind], ok))
        self.rounds.append(latency)
        return done

    def check(self, ctx, checks) -> None:
        for part in self.parts:
            part.check(ctx, checks)

    def details(self) -> dict:
        out = {}
        for part in self.parts:
            out.update(part.details(self.rounds))
        for kind in self.rounds[0] if self.rounds else ():
            out[f"stage.{kind}_s"] = (median([r[kind] for r in self.rounds]), "s")
        return out

    def layer_extras(self, ctx) -> dict:
        out = {}
        for part in self.parts:
            out.update(part.layer_extras(ctx))
        return out
