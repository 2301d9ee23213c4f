"""Embeddinghub spaces (SURVEY §1.3, §2.3 V9).

Reference: ``embeddinghub/embeddingstore/space.h:14-31`` (Space →
RocksDB-backed collection), ``version.h:18-44`` (immutable-able
embedding table of fixed dims + optional HNSW index), server ops
CreateSpace/FreezeSpace/Set/MultiSet/Get/MultiGet/NearestNeighbor/
Download ``embeddinghub/embeddingstore/server.cc:65-232``.

Write path: the reference's store is a driver-local RocksDB — our
equivalent is a plain dict overlay, so Set/MultiSet/Get/MultiGet are
O(1) with NO Spark job and no growing plan lineage (a previous design
unioned a new DataFrame per write: plan depth grew linearly with the
write count and every read replayed a full window — quadratic for
write-heavy sessions).

Batch path: a Space can also wrap a distributed base DataFrame
(``load_dataframe``) — e.g. a batch-built embedding table far larger
than driver memory. Reads resolve overlay-first (newest write wins);
``download()``/``nearest_neighbor()`` run base ∪ overlay with the
overlay broadcast (it is driver-resident by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    StringType,
    StructField,
    StructType,
)

from embeddinghub_spark.functions.hnsw import HnswIndex, _finite_vector
from embeddinghub_spark.functions.vector import knn_bruteforce

_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("embedding", ArrayType(FloatType()), False),
    ]
)


class FrozenSpaceError(RuntimeError):
    pass


class Space:
    """A named embedding collection of fixed dimensionality."""

    def __init__(self, spark: SparkSession, name: str, dims: int):
        self.spark = spark
        self.name = name
        self.dims = dims
        self.frozen = False
        self._buf: dict[str, list[float]] = {}  # overlay: newest write wins
        self._base: DataFrame | None = None  # optional distributed table
        self._bucket_dirs: dict[int, str] = {}  # serving index (load_dataframe)
        self._n_buckets: int = 0

    def _check_mutable(self):
        if self.frozen:
            raise FrozenSpaceError(f"space {self.name} is frozen")  # server.cc FreezeSpace

    def _check_dims(self, key: str, v) -> list[float]:
        """One write's (key, embedding) checked as the overlay and the
        HNSW both need it: a str key and ``dims`` finite floats."""
        if not isinstance(key, str):
            raise TypeError(
                f"space keys must be str, got {type(key).__name__}: {key!r}"
            )
        vec = _finite_vector(v, f"embedding for {key!r}")
        if len(vec) != self.dims:
            raise ValueError(
                f"embedding for {key!r} has dim {len(vec)}, space expects {self.dims}"
            )
        return list(vec)

    def load_dataframe(
        self,
        df: DataFrame,
        serving_path: str | None = None,
        n_buckets: int = 64,
        serving_index: bool = True,
    ) -> None:
        """Attach a batch-built (key, embedding) DataFrame as the base
        table (stays distributed; overlay writes shadow it per key).

        By default this also builds a SERVING INDEX: the base is
        written once as key-bucketed parquet (ONE Spark job), after
        which ``get``/``multiget`` route each key to its bucket file
        client-side (zlib.crc32 — same function Spark used to write)
        and read it with pyarrow, filter pushed to row-group stats —
        NO Spark job per lookup. Without it, every point get was a
        full-scan ``filter(key==…).collect()`` job: the wrong latency
        model for serving. ``serving_path=None`` uses a temp dir; pass
        ``n_buckets`` ≥ |keys|/50k to keep bucket files small.
        """
        self._check_mutable()
        import os
        import tempfile

        from embeddinghub_spark.sources.tables import _bucket_expr, _write_bucketed

        base = df.select(
            F.col("key").cast("string"),
            F.col("embedding").cast(ArrayType(FloatType())),
        )
        if not serving_index:
            # batch-only attach (download/NN); point gets fall back to
            # a filter job — callers that serve must keep the index
            self._base = base
            self._bucket_dirs = {}
            return
        root = serving_path or tempfile.mkdtemp(prefix=f"space_{self.name}_")
        phys = _write_bucketed(
            base.withColumn("bucket", _bucket_expr("key", n_buckets)), root, n_buckets
        )
        self._bucket_dirs = {
            int(d.split("=", 1)[1]): os.path.join(phys, d)
            for d in os.listdir(phys)
            if d.startswith("bucket=")
        }
        self._n_buckets = n_buckets
        # batch ops read the materialized (stable) copy, not the input plan
        self._base = self.spark.read.option("recursiveFileLookup", "true").parquet(
            phys
        )

    def _base_lookup(self, keys: list[str]) -> dict[str, list[float]]:
        """Point lookups against the bucketed base: group keys by
        bucket, read each bucket file once with pyarrow (predicate
        pushed to row-group statistics). Zero Spark jobs."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from embeddinghub_spark.sources.tables import bucket_of

        if not self._bucket_dirs:  # index-less attach: one filter job
            rows = self._base.filter(F.col("key").isin(keys)).collect()
            return {r["key"]: [float(x) for x in r["embedding"]] for r in rows}

        by_bucket: dict[int, list[str]] = {}
        for k in keys:
            by_bucket.setdefault(bucket_of(k, self._n_buckets), []).append(k)
        out: dict[str, list[float]] = {}
        for b, ks in by_bucket.items():
            path = self._bucket_dirs.get(b)
            if path is None:
                continue
            table = pq.read_table(
                path, filters=pc.field("key").isin(ks), columns=["key", "embedding"]
            )
            for key, emb in zip(
                table.column("key").to_pylist(), table.column("embedding").to_pylist()
            ):
                out[key] = [float(x) for x in emb]
        return out

    def multiset(self, items: dict[str, list[float]]) -> None:
        """MultiSet upsert (server.cc:120-150), O(len(items)). The whole
        batch is checked first, so a rejected call changes neither the
        overlay nor the HNSW."""
        self._check_mutable()
        staged = {k: self._check_dims(k, v) for k, v in items.items()}
        self._buf.update(staged)
        ann = getattr(self, "_ann", None)
        if ann is not None:  # keep the HNSW current, like the reference
            for kk in sorted(staged):
                ann.add(kk, staged[kk])

    def set(self, key: str, embedding: list[float]) -> None:
        self.multiset({key: embedding})

    def _overlay_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            [(k, v) for k, v in self._buf.items()], _SCHEMA
        )

    def _current(self) -> DataFrame:
        """base ∪ overlay, overlay winning per key (upsert resolution)."""
        overlay = self._overlay_df()
        if self._base is None:
            return overlay
        survivors = self._base.join(
            F.broadcast(overlay.select("key")), "key", "left_anti"
        )
        return survivors.unionByName(overlay)

    def get(self, key: str) -> list[float] | None:
        if key in self._buf:
            return list(self._buf[key])
        if self._base is not None:
            hit = self._base_lookup([key])
            return hit.get(key)
        return None

    def multiget(self, keys: list[str]) -> dict[str, list[float]]:
        out = {k: list(self._buf[k]) for k in keys if k in self._buf}
        missing = [k for k in keys if k not in out]
        if missing and self._base is not None:
            out.update(self._base_lookup(missing))
        return out

    def download(self) -> DataFrame:
        """Full scan (server.cc Download:200-232)."""
        return self._current()

    def freeze(self) -> None:
        self.frozen = True

    def build_ann_index(
        self, m: int = 16, ef_construction: int = 100, seed: int = 42,
        persist_dir: str | None = None,
    ) -> int:
        """Build the driver-side HNSW over the space's CURRENT state
        (base ∪ overlay) — the reference keeps exactly this index next
        to its store (embeddingstore/index.cc hnswlib, L2). Subsequent
        ``set``/``multiset`` writes keep it updated in place, and
        ``nearest_neighbor(approximate=True)`` answers from it with no
        Spark job. Returns the number of indexed vectors.

        ``persist_dir`` makes the index durable (the reference freezes
        spaces on disk rather than rebuilding per restart): a saved
        index whose content digest still matches the space's current
        state LOADS in O(N) — zero distance evaluations — instead of
        the O(N·ef·log N) rebuild; on any mismatch (new/changed/
        deleted vectors) the index rebuilds and re-saves atomically.

        Memory is O(N·(dims + m)) on the driver — the online remainder
        of a pipeline whose 100 TB side stays in Spark
        (functions/ann_index.py); insertion order is the sorted key
        order, and levels are md5-seeded, so the same space state
        builds the same graph on the same CPython build (see the
        determinism contract in ``functions/hnsw.py``)."""
        import os

        rows = {r["key"]: r["embedding"] for r in self._current().collect()}
        idx_path = (
            os.path.join(persist_dir, f"{self.name}.hnsw.json")
            if persist_dir else None
        )
        if idx_path and os.path.exists(idx_path):
            cached = HnswIndex.load(idx_path)
            if (
                (cached.dim, cached.m, cached.ef_construction, cached.seed)
                == (self.dims, m, ef_construction, seed)
                and cached.state_key() == HnswIndex.digest_rows(rows)
            ):
                self._ann = cached
                return len(cached)
        idx = HnswIndex(
            self.dims, m=m, ef_construction=ef_construction, seed=seed
        )
        for kk in sorted(rows):
            idx.add(kk, rows[kk])
        if idx_path:
            os.makedirs(persist_dir, exist_ok=True)
            idx.save(idx_path)
        self._ann = idx
        return len(idx)

    def nearest_neighbor(
        self,
        k: int,
        key: str | None = None,
        vector: list[float] | None = None,
        approximate: bool = False,
        ef: int | None = None,
    ) -> list[str]:
        """NearestNeighbor (server.cc:152-198): L2 metric like the
        hnswlib index (index.cc L2 space); query by key or raw vector;
        a key query excludes itself like the reference's API.

        ``approximate=True`` answers from the driver-side HNSW built
        by ``build_ann_index`` (raising if none was built) — the
        reference's actual serving path; the default stays the EXACT
        Spark brute force (the certified oracle shape)."""
        if (key is None) == (vector is None):
            raise ValueError("provide exactly one of key / vector")
        if vector is None:
            vector = self.get(key)
            if vector is None:
                raise KeyError(key)
        if approximate:
            idx = getattr(self, "_ann", None)
            if idx is None:
                raise RuntimeError(
                    f"space {self.name} has no ANN index — call "
                    "build_ann_index() first"
                )
            hits = idx.search(
                vector, k, ef=ef,
                exclude={key} if key is not None else None,
            )
            return [kk for kk, _ in hits]
        cur = self._current()
        q = self.spark.createDataFrame([(0, [float(x) for x in vector])],
                                       ["query_id", "query_vec"])
        hits = knn_bruteforce(
            cur, q, k + (1 if key is not None else 0),
            id_col="key", vec_col="embedding", metric="l2", dim=self.dims,
        ).orderBy("rank")
        out = [r["neighbor_id"] for r in hits.collect()]
        if key is not None:
            out = [o for o in out if o != key][:k]
        return out


class EmbeddingHub:
    """Space registry (CreateSpace/DeleteSpace — server.cc:65-96)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._spaces: dict[str, Space] = {}

    def create_space(self, name: str, dims: int) -> Space:
        if name in self._spaces:
            raise ValueError(f"space {name} exists")
        s = Space(self.spark, name, dims)
        self._spaces[name] = s
        return s

    def get_space(self, name: str) -> Space:
        return self._spaces[name]

    def delete_space(self, name: str) -> None:
        del self._spaces[name]

    def freeze_space(self, name: str) -> None:
        self._spaces[name].freeze()
