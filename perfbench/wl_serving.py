"""online_serving: the serving plane under an interleaved read/write mix.

Load: the V4 copy of a feature into ``OnlineStore``, the bucketed
serving index (``Space.load_dataframe``), the driver-side HNSW
(``Space.build_ann_index``) and an on-disk IVF index registered with
the store. Then one client sends requests one at a time, in blocks: one
step is one block, and the seed only shuffles the order inside it.

The block is the smallest that gives each printed percentile at least
ten samples beyond it in one block: 20 feature GETs over Zipf-popular
entities and 20 ``multiset`` writes of 32 vectors for their p50s, 100
approximate k-NN queries for their p90. The IVF ``nearest`` is the
exception: one probe is a chain of Spark jobs (about 3 s on 4 vCPUs),
so a block holds one and its median is printed with its sample count.
GETs are the fastest kind, so the median over a block's requests falls
among the k-NN queries.

The writes upsert a fixed pool of ``WRITE_SLOTS`` x 32 keys in turn, so
the space (and the HNSW the k-NN queries search) keeps one size through
the timed loop: the warm-up block, a smaller one, fills the pool and
runs every kind once or more; later writes re-link existing keys.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import gen
from perfbench.stats import median, tail

SIZES = {"full": dict(n_vectors=400, n_events=20_000),
         "tiny": dict(n_vectors=200, n_events=2_000)}
WRITE_SLOTS = 4
BLOCK = ["get"] * 20 + ["ann"] * 100 + ["multiset"] * 20 + ["ivf"]
WARMUP_BLOCK = ["get"] * 10 + ["ann"] * 10 + ["multiset"] * WRITE_SLOTS + ["ivf"]
K = 10
N_RECALL_QUERIES = 50
WRITE_BATCH = 32
REQUEST_ZIPF = 1.1


class Serving:
    name = "online_serving"
    warmup_steps = 1
    request_is_step = False

    def __init__(self, scale: str):
        self.size = SIZES[scale]
        self.reset()

    def reset(self) -> None:
        """Called after the warm-up: later steps send the full block."""
        self.block = BLOCK
        self.lat: dict[str, list[float]] = {k: [] for k in set(BLOCK)}
        self.gets: list[tuple[int, object]] = []

    def generate(self, rng, out_dir: str) -> dict:
        self.dir = out_dir
        self.shape = gen.Shape()
        sizes, self.vecs, self.keys, centers = gen.serving_inputs(
            rng, out_dir, shape=self.shape, **self.size)
        self.queries, _ = gen.clustered_vectors(rng, 512, self.shape, centers)
        self.recall_queries = self.queries[:N_RECALL_QUERIES]
        self.entities = gen.zipf_ids(rng, 50_000, self.shape.n_entities, REQUEST_ZIPF)
        self.rng = rng
        self.centers = centers
        self.written: dict[str, list[float]] = {}
        self.n_req = 0
        self.n_writes = 0
        self.block = WARMUP_BLOCK
        return sizes

    def prepare(self, ctx) -> None:
        from embeddinghub_spark.catalog import Catalog
        from embeddinghub_spark.functions.ann_index import ivf_index_build
        from embeddinghub_spark.serving.online import OnlineStore
        from embeddinghub_spark.serving.spaces import Space

        spark = ctx.spark
        t = time.perf_counter()
        cat = Catalog(spark)
        cat.register_file("events", "default", os.path.join(self.dir, "events.parquet"))
        cat.register_feature("click_value", "v1", ("events", "default"), "user_id", "value", "ts")
        self.store = OnlineStore(cat)
        self.store.materialize_feature("click_value", "v1")
        vectors = spark.read.parquet(os.path.join(self.dir, "vectors.parquet"))
        self.space = Space(spark, "bench", gen.EMB_DIM)
        self.space.load_dataframe(vectors.select("key", "embedding"),
                                  serving_path=os.path.join(ctx.work, "space"), n_buckets=8)
        self.space.build_ann_index()
        index_dir = os.path.join(ctx.work, "ivf")
        ivf_index_build(vectors.select("vec_id", "embedding"), index_dir,
                        n_cells=16, dim=gen.EMB_DIM)
        self.store.register_vector_index("vectors", "v1", index_dir, nprobe=4)
        self.load_s = time.perf_counter() - t

    def step(self, ctx) -> list[tuple[str, float, bool]]:
        return [self._request(str(kind)) for kind in self.rng.permutation(self.block)]

    def _request(self, kind: str) -> tuple[str, float, bool]:
        i = self.n_req
        self.n_req += 1
        t = time.perf_counter()
        if kind == "get":
            ent = int(self.entities[i % len(self.entities)])
            value = self.store.features([("click_value", "v1")], {"entity": ent})[0]
            dt = time.perf_counter() - t
            self.gets.append((ent, value))
        elif kind == "ann":
            q = self.queries[i % len(self.queries)].tolist()
            self.space.nearest_neighbor(K, vector=q, approximate=True)
            dt = time.perf_counter() - t
        elif kind == "ivf":
            q = self.queries[i % len(self.queries)].tolist()
            self.ivf_ids = self.store.nearest("vectors", "v1", q, K)
            dt = time.perf_counter() - t
        else:
            new, _ = gen.clustered_vectors(self.rng, WRITE_BATCH, self.shape, self.centers)
            slot = self.n_writes % WRITE_SLOTS
            self.n_writes += 1
            items = {f"w{slot}_{j:02d}": v.tolist() for j, v in enumerate(new)}
            t = time.perf_counter()
            self.space.multiset(items)
            dt = time.perf_counter() - t
            self.written.update(items)
        self.lat[kind].append(dt)
        return kind, dt, True

    def check(self, ctx, checks) -> None:
        from perfbench.checks import duck

        con = duck(self.dir, ["events"])
        latest = dict(con.execute(
            "SELECT user_id, value FROM events QUALIFY row_number() OVER "
            "(PARTITION BY user_id ORDER BY ts DESC, value DESC) = 1").fetchall())
        con.close()
        bad = [(e, v) for e, v in self.gets if latest.get(e) != v]
        checks.record("serve.get_latest", not bad and self.gets,
                      f"{len(self.gets)} GETs" + (f", first mismatch {bad[0]}" if bad else ""))
        got = self.space.multiget(list(self.written))
        wrong = [k for k, v in self.written.items() if got.get(k) != [float(x) for x in v]]
        checks.record("serve.multiget_after_writes", self.written and not wrong,
                      f"{len(self.written)} written vectors, {len(wrong)} differ")
        self.recall = self._recall()
        checks.record("serve.ann_recall_at_10", self.recall >= 0.8,
                      f"recall {self.recall:.4f} (>= 0.8 expected)")
        ids = self.ivf_ids
        checks.record("serve.ivf_nearest", len(set(ids)) == K and
                      all(0 <= int(x) < len(self.keys) for x in ids),
                      f"last probe returned {len(ids)} distinct base ids")

    def _recall(self) -> float:
        """Mean |approximate ∩ exact| / K over the fixed queries; exact is
        numpy L2 over the final space (base vectors plus every write)."""
        keys = self.keys + list(self.written)
        mat = np.vstack([self.vecs.astype(np.float64)] +
                        ([np.array(list(self.written.values()))] if self.written else []))
        hits = 0
        for q in self.recall_queries:
            d = ((mat - q.astype(np.float64)) ** 2).sum(axis=1)
            exact = {keys[j] for j in np.argsort(d, kind="stable")[:K]}
            approx = self.space.nearest_neighbor(K, vector=q.tolist(), approximate=True)
            hits += len(exact & set(approx))
        return hits / (K * len(self.recall_queries))

    def details(self) -> dict:
        out = {
            "serve.load_s": (self.load_s, "s"),
            "serve.get_p50_us": (median(self.lat["get"]) * 1e6, "us"),
            "serve.ann_p50_ms": (median(self.lat["ann"]) * 1e3, "ms"),
        }
        t = tail(self.lat["ann"], "serve.ann", 1e3)
        if t:
            out[t[0] + "_ms"] = (t[1], "ms")
        out["serve.ann_recall_at_10"] = (self.recall, "ratio")
        out["serve.ivf_median_ms"] = (median(self.lat["ivf"]) * 1e3, "ms")
        out["serve.ivf_probes"] = (len(self.lat["ivf"]), "count")
        out["serve.multiset_p50_ms"] = (median(self.lat["multiset"]) * 1e3, "ms")
        return out

    def layer_extras(self, ctx) -> dict:
        return {}
