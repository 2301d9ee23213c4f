"""Streaming CDC ingest: a changelog stream folded onto a versioned
snapshot store, one transactional micro-batch at a time.

This is the streaming twin of ``operators/cdc.py cdc_apply`` and the
third member of the streaming-merge family:

- grouped HLL (streaming/distinct_by.py): MAX-merge, idempotent —
  replays converge for free;
- CMS (streaming/cms_by.py): +-merge, not idempotent — batch-id gate;
- CDC (here): LAST-WRITE-WINS within a batch, but applying batch k
  after batch k+1 would REGRESS keys, so ORDER matters too — the same
  committed-batch watermark gives both replay-skip and in-order
  application (Spark replays whole micro-batches with the same id
  after recovery, and ids are monotone).

State: the current snapshot as one parquet dir behind a symlink-flip
commit carrying the watermark — readers always see a consistent
(snapshot, batch id) pair; size ∝ live keys, not stream length.

After the stream drains, the snapshot EQUALS the batch
``cdc_apply`` over the full concatenated changelog whenever per-key
sequence numbers are globally monotone (each key's latest change
wins either way) — pinned by test, including a simulated replay.

Ref parity: the reference streams features via its Kafka runner path
(offline_store_spark_runner.py:271-416) into latest-value stores;
this adds the delete-bearing changelog form.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from embeddinghub_spark.streaming._state import (
    _commit_frame,
    _is_committed,
    _start_stream,
    _stream_batch_id,
)

_META = "_cdc_meta.json"


def _apply_changelog(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    key_cols: list[str],
    snapshot_cols: list[str],
    seq_col: str,
    op_col: str,
    delete_op: str,
    batch_id: int | None,
    checkpoint_dir: str | None,
) -> bool:
    from embeddinghub_spark.operators.cdc import cdc_apply

    if _is_committed(state_dir, batch_id, checkpoint_dir, _META):
        return False
    if os.path.islink(state_dir) or os.path.isdir(state_dir):
        snapshot = spark.read.parquet(state_dir).select(*snapshot_cols)
    else:
        snapshot = (
            batch.select(*snapshot_cols).filter("1=0")  # empty, typed
        )
    new_snap = cdc_apply(
        snapshot, batch, key_cols, seq_col, op_col, delete_op
    )
    _commit_frame(state_dir, new_snap, batch_id, checkpoint_dir, _META)
    return True


def apply_changelog_batch(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    batch_id: int,
    key_cols: list[str],
    snapshot_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
) -> bool:
    """Fold one changelog micro-batch onto the stored snapshot via
    ``cdc_apply``; SKIP (return False) when ``batch_id`` is already
    committed. The rewrite cost is O(|snapshot| + |batch|) per batch —
    for a latest-value store that must absorb DELETES this is the
    floor without an LSM (which ``merge_materialization_bucketed_dir``
    provides for the append-only case)."""
    return _apply_changelog(
        spark, state_dir, batch, key_cols, snapshot_cols, seq_col, op_col,
        delete_op, batch_id, None,
    )


def streaming_cdc_apply(
    stream_df: DataFrame,
    state_dir: str,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming CDC ingest: each micro-batch applies its
    latest-per-key changes (insert/update/delete) to the snapshot
    under the transactional watermark. Snapshot schema = stream
    schema minus (seq, op)."""
    snapshot_cols = [
        c for c in stream_df.columns if c not in (seq_col, op_col)
    ]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _apply_changelog(
            batch_df.sparkSession, state_dir, batch_df, key_cols,
            snapshot_cols, seq_col, op_col, delete_op,
            _stream_batch_id(batch_id, checkpoint_dir), checkpoint_dir,
        )

    return _start_stream(
        stream_df, process_batch, checkpoint_dir, trigger_available_now
    )
