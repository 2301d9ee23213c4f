"""C20: streaming features — incremental latest-value materialization.

Reference semantics (SURVEY §2.2 C20, §2.1 S7): streaming means
"Kafka source → incremental latest-value materialization → online
store" (metadata.proto:605-615 ``is_streaming``; serve path
serving/serving.go:626-660 treats STREAMING like PRECOMPUTED reads
from the online store). No watermarks/event-time windows exist in the
reference; the parity bar is: after processing all micro-batches, the
online snapshot equals batch C3 over the full input.

Implementation: Structured Streaming + ``foreachBatch``. Each batch
is reduced map-side to its per-entity latest row (tiny), then merged
into the snapshot keep-newest-wins — idempotent per (entity, ts,
value), giving exactly-once *effects* on top of at-least-once batch
delivery. The snapshot here is an in-memory dict (the local
OnlineTable path); on a cluster the same merge is a Delta MERGE INTO
keyed by entity.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from embeddinghub_spark.operators.materialize import materialize
from embeddinghub_spark.streaming._state import _start_stream


class StreamingSnapshot:
    """Keep-newest per-entity state merged across micro-batches."""

    def __init__(self):
        self._data: dict[Any, tuple[Any, Any]] = {}  # entity -> (value, ts)

    def merge(self, rows) -> None:
        for r in rows:
            cur = self._data.get(r["entity"])
            key = (r["ts"], r["value"])
            if cur is None or key > (cur[1], cur[0]):
                self._data[r["entity"]] = (r["value"], r["ts"])

    def get(self, entity: Any) -> Any:
        return self._data[entity][0]

    def items(self) -> dict[Any, Any]:
        return {e: v for e, (v, _) in self._data.items()}

    def __len__(self) -> int:
        return len(self._data)


def streaming_materialize(
    stream_df: DataFrame,
    snapshot: StreamingSnapshot,
    entity_col: str = "entity",
    value_col: str = "value",
    ts_col: str = "ts",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming C3: per-batch latest-per-entity (one small
    shuffle per batch over the batch's entities only), merged into the
    snapshot newest-wins.

    ``outputMode`` is irrelevant under foreachBatch (the batch is the
    raw new data); the latest-value semantics live in the merge — the
    same shape as the runner's online push (S11) with the dedup pushed
    map-side.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = materialize(batch_df, entity_col, value_col, ts_col)
        snapshot.merge(latest.collect())  # ≤ |entities in batch| rows

    return _start_stream(
        stream_df, process_batch, checkpoint_dir, trigger_available_now
    )


def streaming_materialize_to_dir(
    stream_df: DataFrame,
    target_dir: str,
    entity_col: str = "entity",
    value_col: str = "value",
    ts_col: str = "ts",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    n_buckets: int | None = 16,
) -> StreamingQuery:
    """C20 distributed path: per micro-batch, reduce the batch to its
    per-entity latest rows, then MERGE (newest-wins) into an on-disk
    parquet snapshot — no driver-side state at all, so the snapshot
    scales with |entities| on disk, not in the driver heap (replaces
    the local-dict path for cluster use; with a Delta catalog the same
    call becomes a Delta MERGE keyed by entity,
    tables.merge_upsert_table).

    With ``n_buckets`` (the default), the snapshot is hash-bucketed by
    entity and a batch rewrites only the buckets it touches — write
    amplification per batch is O(touched-buckets size), not
    O(|snapshot|); see tables.merge_materialization_bucketed_dir.
    ``n_buckets=None`` keeps the flat full-rewrite merge (only sane
    for small snapshots). Readers: ``tables.read_bucketed_snapshot``
    (plain ``spark.read.parquet`` also works; the bucketed layout adds
    a `bucket` partition column).

    Exactly-once in effect: the merge is idempotent per
    (entity, ts, value) — a replayed batch (at-least-once delivery
    after a checkpoint recovery) converges to the identical snapshot.
    After all batches, the snapshot dir equals batch C3 over the full
    input (the reference's parity bar, serving/serving.go:626-660).
    """
    from embeddinghub_spark.sources.tables import (
        merge_materialization_bucketed_dir,
        merge_materialization_dir,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if n_buckets:
            # raw batch straight in: the merge reduces to latest-per-
            # entity itself (fused with the bucket layout — r16; the
            # previous pre-materialize here paid a THIRD exchange per
            # batch for rows the merge immediately re-aggregated)
            merge_materialization_bucketed_dir(
                batch_df.sparkSession, target_dir, batch_df,
                entity_col=entity_col, ts_col=ts_col, value_col=value_col,
                n_buckets=n_buckets,
            )
            return
        latest = materialize(batch_df, entity_col, value_col, ts_col)
        merge_materialization_dir(
            batch_df.sparkSession, target_dir, latest,
            entity_col="entity", ts_col="ts", value_col="value",
        )

    return _start_stream(
        stream_df, process_batch, checkpoint_dir, trigger_available_now
    )
