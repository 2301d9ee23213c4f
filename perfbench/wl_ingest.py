"""The ingest part of ``batch_pipeline``: change batches landing in
three table targets.

A base table of key-range files receives change batches of 1 % of its
keys (80 % updates, 20 % inserts). Each round lands one batch. The
first batch, landed by the untimed warm-up round, has uniform keys, so
file pruning is bypassed; every later batch favours recent keys, so
pruning touches few files and every timed round does the same work.
Landing a batch commits it to a native Delta table
(``merge_delta``), a native Iceberg table (``merge_iceberg``) and the
bucketed latest-value snapshot (``streaming_materialize_to_dir`` with
an ``availableNow`` trigger); the round then reads all three back.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.stats import median

SIZES = {"full": dict(n_rows=50_000, n_files=16),
         "tiny": dict(n_rows=8_000, n_files=16)}
N_BUCKETS = 16


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Ingest:
    name = "ingest"

    def __init__(self, scale: str):
        self.size = SIZES[scale]
        self.results: dict = {}
        self.reset()

    def reset(self) -> None:
        self.commit_s: list[float] = []
        self.read_s: list[float] = []
        self.bytes_in = 0
        self.bytes_written = 0
        self.rewritten = {"delta": [], "iceberg": []}

    def generate(self, rng, out_dir: str) -> dict:
        self.dir = out_dir
        self.rng = rng
        sizes = gen.ingest_base(rng, os.path.join(out_dir, "base"), **self.size)
        self.batch_rows = self.size["n_rows"] // 100
        sizes["batch_rows"] = self.batch_rows
        return sizes

    def prepare(self, ctx) -> None:
        from embeddinghub_spark.sources.delta_log import write_delta
        from embeddinghub_spark.sources.iceberg_write import write_iceberg

        spark = ctx.spark
        root = os.path.join(ctx.work, "ingest")
        shutil.rmtree(root, ignore_errors=True)
        self.delta = os.path.join(root, "delta")
        self.iceberg = os.path.join(root, "iceberg")
        self.snapshot = os.path.join(root, "snapshot")
        self.stream_in = os.path.join(root, "stream_in")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.batches = os.path.join(root, "batches")
        os.makedirs(self.batches)
        shutil.copytree(os.path.join(self.dir, "base"), self.stream_in)
        base = spark.read.parquet(os.path.join(self.dir, "base"))
        self.schema = base.schema
        ranged = base.repartitionByRange(self.size["n_files"], "key")
        write_delta(ranged, self.delta, mode="overwrite")
        write_iceberg(ranged, self.iceberg, mode="overwrite")
        self.stream = spark.readStream.schema(self.schema).parquet(self.stream_in)
        self._stream_once(ctx)
        self.n_base = self.size["n_rows"]
        self.next_key = self.n_base
        self.batch_no = 0
        self.batch_files: list[str] = []

    def _stream_once(self, ctx) -> None:
        from embeddinghub_spark.streaming.stream_materialize import streaming_materialize_to_dir

        # the micro-batch thread's jobs land in this span
        with ctx.span("streaming.stream_materialize", "availableNow"):
            q = streaming_materialize_to_dir(
                self.stream, self.snapshot, entity_col="key", value_col="value", ts_col="ts",
                checkpoint_dir=self.checkpoint, trigger_available_now=True, n_buckets=N_BUCKETS)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")

    def _live_files(self) -> tuple[set, set]:
        from embeddinghub_spark.sources.delta_log import delta_snapshot
        from embeddinghub_spark.sources.iceberg_meta import iceberg_snapshot

        return ({f["path"] for f in delta_snapshot(self.delta)["files"]},
                set(iceberg_snapshot(self.iceberg)["files"]))

    def read_back(self, ctx) -> None:
        from embeddinghub_spark.sources.delta_log import read_delta
        from embeddinghub_spark.sources.iceberg_meta import read_iceberg
        from embeddinghub_spark.sources.tables import read_bucketed_snapshot

        spark = ctx.spark
        t = time.perf_counter()
        self.results = {
            "delta": ctx.collect(read_delta(spark, self.delta)),
            "iceberg": ctx.collect(read_iceberg(spark, self.iceberg)),
            "snapshot": ctx.collect(read_bucketed_snapshot(spark, self.snapshot)).rename(
                columns={"entity": "key"}),
        }
        self.read_s.append(time.perf_counter() - t)

    def stages(self) -> list:
        return [self.land_batch, self.read_back]

    def land_batch(self, ctx) -> None:
        """Commit one change batch to all three targets."""
        from embeddinghub_spark.sources.delta_log import merge_delta
        from embeddinghub_spark.sources.iceberg_write import merge_iceberg

        spark = ctx.spark
        n = self.batch_no
        self.batch_no += 1
        table, self.next_key = gen.ingest_batch(
            self.rng, n, self.n_base, self.next_key, self.batch_rows, uniform=n == 0)
        path = os.path.join(self.batches, f"batch-{n:05d}.parquet")
        pq.write_table(table, path)
        self.batch_files.append(path)
        before = {p: _tree_files(p) for p in (self.delta, self.iceberg, self.snapshot)}
        live = None
        if ctx.tracer is not None:
            with ctx.tracer.paused():
                live = self._live_files()

        t = time.perf_counter()
        src = spark.read.parquet(path)
        merge_delta(spark, self.delta, src, ["key"])
        merge_iceberg(spark, self.iceberg, src, ["key"])
        shutil.copy(path, os.path.join(self.stream_in, os.path.basename(path)))
        self._stream_once(ctx)
        self.commit_s.append(time.perf_counter() - t)

        self.bytes_in += os.path.getsize(path)
        for p, old in before.items():
            self.bytes_written += sum(s for f, s in _tree_files(p).items() if f not in old)
        if live is not None:
            with ctx.tracer.paused():
                after = self._live_files()
            for name, b, a in (("delta", live[0], after[0]), ("iceberg", live[1], after[1])):
                self.rewritten[name].append(len(b - a) / len(b))

    def check(self, ctx, checks) -> None:
        from perfbench.checks import duck, same_rows

        con = duck(self.dir, [])
        files = [os.path.join(self.dir, "base", "*.parquet")] + self.batch_files
        replay = con.execute(
            "SELECT key, value, ts FROM read_parquet(?) "
            "QUALIFY row_number() OVER (PARTITION BY key ORDER BY ts DESC) = 1",
            [files]).df()
        con.close()
        for name, got in self.results.items():
            checks.run(f"ingest.{name}_final",
                       lambda g=got: same_rows(g[["key", "value", "ts"]], replay))

    def details(self, rounds: list[dict]) -> dict:
        space = sum(sum(_tree_files(p).values()) for p in (self.delta, self.iceberg, self.snapshot))
        return {
            "ingest.commit_p50_s": (median(self.commit_s), "s"),
            "ingest.read_p50_s": (median(self.read_s), "s"),
            "ingest.write_amp": (self.bytes_written / self.bytes_in, "ratio"),
            "ingest.space_mb": (space / 2**20, "MB"),
        }

    def layer_extras(self, ctx) -> dict:
        out = {}
        for name, layer in (("delta", "sources.delta_log"), ("iceberg", "sources.iceberg_write")):
            vals = self.rewritten[name]
            out[f"{layer}.files_rewritten_ratio"] = sum(vals) / len(vals) if vals else 0.0
        return out
