"""Online serving plane (SURVEY §2.3 V3/V4, §3.2; C19 on-demand).

Reference: online store interface ``provider/online.go:42-64``
(GetTable/Get/Set, VectorStoreTable.Nearest), serve path
``serving/serving.go:581-679`` (mode switch PRECOMPUTED /
CLIENT_COMPUTED / STREAMING), batch copy ``runner/copy.go:65-211``
(500-worker pool draining chunk iterators).

In-process equivalent: a materialization snapshot is pushed into an
``OnlineStore`` (dict-backed KV; the distributed path is
``foreachPartition`` via sources.sinks.push_online). On-demand
features are plain callables evaluated per request
(client/src/featureform/serving.py:236-241).

``nearest`` on a registered on-disk IVF index (``register_vector_index``)
is served on the driver with NumPy and pyarrow: it fires no Spark job
and reads only the probed cell directories, and an ``ivf_index_append``
is visible to the next query. The index dir is listed and read through
pyarrow's filesystem layer, so it must be a local path or a URI
``pyarrow.fs`` resolves (``file://``, or a remote scheme pyarrow was
built with). ``nearest`` on a registered vector table stays a
brute-force Spark scan.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from embeddinghub_spark.catalog import Catalog
from embeddinghub_spark.functions.vector import knn_bruteforce
from embeddinghub_spark.operators.materialize import materialize, materialize_no_ts


class EntityNotFound(KeyError):
    """Reference: serving returns EntityNotFound on a missing entity
    key (serving/serving.go:612-679) — never an arbitrary fallback."""


class StaleValue(Exception):
    """A freshness-guarded GET found the value older than the
    caller's ``max_staleness`` budget (or with no timestamp to check
    against). Serving stale features silently is the quiet failure
    mode of every online store — the guard makes it loud."""


class OnlineTable:
    """KV snapshot of one feature materialization (provider/online.go:50-53)."""

    def __init__(self, name: str, variant: str):
        self.name = name
        self.variant = variant
        self._data: dict[Any, Any] = {}
        self._ts: dict[Any, Any] = {}

    def set(self, entity: Any, value: Any, ts: Any = None) -> None:
        self._data[entity] = value
        if ts is not None:
            self._ts[entity] = ts
        else:
            # a ts-less overwrite must not leave the PREVIOUS value's
            # timestamp behind — a later freshness-guarded get() would
            # certify the new value with the old value's age (ADVICE r6)
            self._ts.pop(entity, None)

    def get(
        self,
        entity: Any,
        max_staleness_seconds: float | None = None,
        now: Any = None,
    ) -> Any:
        """V3 single GET; KeyError on miss (reference returns
        EntityNotFound — serving/serving.go:612-679).

        ``max_staleness_seconds`` turns the GET into a freshness-
        guarded read (the serving-side SLO `pit_staleness` measures
        offline): raises ``StaleValue`` when the stored value's
        materialization timestamp is older than the budget relative
        to ``now`` (a datetime; defaults to the current UTC wall
        clock), or when the snapshot carries no timestamp at all
        (a no-ts materialization cannot honor a freshness contract —
        failing loud beats certifying unknowable freshness)."""
        value = self._data[entity]
        if max_staleness_seconds is not None:
            ts = self._ts.get(entity)
            if ts is None:
                raise StaleValue(
                    f"{self.name}.{self.variant}[{entity!r}] has no "
                    "materialization timestamp to check freshness against"
                )
            if now is None:
                from datetime import datetime, timezone

                now = datetime.now(timezone.utc).replace(tzinfo=None)
            age = (now - ts).total_seconds()
            if age > max_staleness_seconds:
                raise StaleValue(
                    f"{self.name}.{self.variant}[{entity!r}] is {age:.0f}s "
                    f"old (budget {max_staleness_seconds:.0f}s)"
                )
        return value

    def multi_get(self, entities: list[Any]) -> list[Any]:
        return [self._data.get(e) for e in entities]

    def entities(self) -> list[Any]:
        """All keys in the snapshot (chunk-copy enumeration order is
        not part of the contract — callers sort)."""
        return list(self._data)

    def __len__(self) -> int:
        return len(self._data)


class OnlineStore:
    """The serving plane: feature snapshots + on-demand fns + vector
    tables, fed from batch materializations (V4 copy)."""

    def __init__(self, catalog: Catalog):
        self.catalog = catalog
        self.model_usage: dict[tuple[str, tuple], int] = {}
        self._tables: dict[tuple[str, str], OnlineTable] = {}
        self._vectors: dict[tuple[str, str], DataFrame] = {}
        self._vector_indexes: dict[tuple[str, str], tuple[str, int]] = {}

    # -- V4: batch copy from offline materialization

    def materialize_feature(self, name: str, variant: str) -> OnlineTable:
        f = self.catalog.feature(name, variant)
        table = self.catalog.feature_table(name, variant)
        if f.columns.ts is not None:
            snap = materialize(table)
        else:
            snap = materialize_no_ts(table)
        t = OnlineTable(name, variant)
        has_ts = "ts" in snap.columns
        for row in snap.toLocalIterator():  # streams chunks, no full collect
            t.set(row["entity"], row["value"], row["ts"] if has_ts else None)
        self._tables[(name, variant)] = t
        return t

    def register_vector_table(self, name: str, variant: str, df: DataFrame) -> None:
        """V5 vector feature table: (id, embedding array<float>)."""
        self._vectors[(name, variant)] = df

    # -- V3 / §3.2 entry point B: client.features()

    def features(
        self,
        feature_list: list[tuple[str, str]],
        entities: dict[str, Any],
        params: Any = None,
        model: str | None = None,
        max_staleness_seconds: float | None = None,
        now: Any = None,
    ) -> list[Any]:
        """Serve a feature vector for one entity (mode switch per
        serving/serving.go:625-667): PRECOMPUTED → snapshot get;
        on-demand → call fn(store, params, entities).

        The feature's entity name MUST be present in ``entities`` —
        falsy entity ids (0, "") are valid keys, and a missing name is
        an error (reference returns EntityNotFound), never a silent
        fallback to an arbitrary entity.

        ``model`` mirrors the reference's serve-side attribution
        (`client.features(..., model=...)` — serving logs which MODEL
        consumed which features): the name must be a registered MODEL
        resource, and per-(model, feature) serve counts accumulate in
        ``model_usage`` for lineage/audit.
        """
        if model is not None:
            self.catalog.model(model)  # raises ResourceNotFound
            for key in feature_list:
                k = (model, tuple(key))
                self.model_usage[k] = self.model_usage.get(k, 0) + 1
        out = []
        for name, variant in feature_list:
            key = (name, variant)
            if key in self._tables:
                entity_name = self.catalog.feature(name, variant).entity
                if entity_name not in entities:
                    raise EntityNotFound(
                        f"feature {name}.{variant} needs entity {entity_name!r}; "
                        f"got {sorted(entities)}"
                    )
                t = self._tables[key]
                ent = entities[entity_name]
                if max_staleness_seconds is not None and ent in t._data:
                    # freshness-budgeted serve: StaleValue propagates
                    # (serving stale silently is the failure mode);
                    # a MISSING entity still serves None (C6's NULL)
                    out.append(
                        t.get(ent, max_staleness_seconds=max_staleness_seconds, now=now)
                    )
                else:
                    out.append(t._data.get(ent))
            else:
                od = self.catalog.on_demand(name, variant)
                out.append(od.fn(self, params, entities))
        return out

    # -- V5: nearest

    def register_vector_index(
        self, name: str, variant: str, index_dir: str, nprobe: int = 4
    ) -> None:
        """Serve ``nearest`` from a persisted on-disk IVF index
        (functions/ann_index.py) instead of a brute-force corpus
        scan: each query is answered on the driver and opens only its
        ``nprobe`` probed cell directories — the embeddinghub HNSW
        sidecar's in-process analogue (embeddingstore/index.cc).
        ``index_dir`` must be a local path or a URI ``pyarrow.fs``
        resolves; one without a readable ``centroids/`` or ``cells/``
        table raises a ``ValueError`` here, not on the first query.
        Replaces any table registered under the same key."""
        from embeddinghub_spark.functions.ann_index import check_index_dir

        check_index_dir(index_dir)
        self._vectors.pop((name, variant), None)
        self._vector_indexes[(name, variant)] = (index_dir, nprobe)

    def nearest(self, name: str, variant: str, vector: list[float], k: int) -> list[Any]:
        """k-NN against a registered vector table (batch brute-force;
        serving/serving.go:744-800) or, when an index is registered,
        an IVF probe of the on-disk index served on the driver: zero
        Spark jobs, the same neighbors as ``ivf_index_probe``, and an
        append is visible to the next query."""
        key = (name, variant)
        if key in self._vector_indexes:
            from embeddinghub_spark.functions.ann_index import ivf_index_probe_local

            index_dir, nprobe = self._vector_indexes[key]
            ansi = self.catalog.spark.conf.get("spark.sql.ansi.enabled")
            return ivf_index_probe_local(
                index_dir, vector, k, nprobe=nprobe, ansi=ansi.lower() == "true"
            )
        df = self._vectors[key]
        spark = df.sparkSession
        q = spark.createDataFrame([(0, vector)], ["query_id", "query_vec"])
        hits = knn_bruteforce(df, q, k).orderBy("rank").collect()
        return [r["neighbor_id"] for r in hits]
