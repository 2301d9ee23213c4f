"""Structured Streaming → native Iceberg upsert sink.

``streaming_upsert_iceberg`` folds a keyed micro-batch stream onto an
Iceberg table through ``upsert_iceberg_cdc`` (zero-scan equality-
delete upserts — the Flink CDC writer's upsert mode), one commit per
micro-batch via ``foreachBatch``.

Exactly-once across recovery: Spark replays whole micro-batches with
the same monotone ``batch_id`` after a failure, so the sink records
the last applied id in the TABLE PROPERTIES OF THE SAME COMMIT
(``streaming.last-batch-id`` — the watermark and the data are one
atomic metadata swap, the ``cdc_ingest`` symlink-flip discipline on
Iceberg's own commit) and skips any batch at or below it. A replayed
batch is therefore a no-op instead of a doubled upsert, and a crash
BETWEEN commit and checkpoint costs nothing.

Read amplification accrues in the equality-delete anti-join until
``compact_iceberg``/COW DML folds it — schedule compaction like any
Flink-Iceberg deployment (``compact_every`` automates the cadence:
every N batches the sink folds the accumulated deletes in-line).

Reference parity: the reference streams features through its Kafka
runner (offline_store_spark_runner.py:271-416) into latest-value
stores; this is the table-format-native sink for the same shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from embeddinghub_spark.streaming._state import _start_upsert_stream


def last_committed_streaming_batch(path: str) -> int:
    """The ``streaming.last-batch-id`` the table carries, or -1."""
    from embeddinghub_spark.sources.iceberg_meta import iceberg_snapshot

    props = (
        iceberg_snapshot(path)["metadata"].get("properties") or {}
    )
    return int(props.get("streaming.last-batch-id", -1))


def apply_upsert_batch(
    spark,
    path: str,
    batch: DataFrame,
    batch_id: int,
    key_cols: list[str],
) -> int | None:
    """One micro-batch application — the testable core of the sink.
    Skips already-committed ids (replay), creates the table on the
    first non-empty batch, upserts otherwise. Returns the committed
    snapshot id, or None when skipped/empty."""
    from embeddinghub_spark.sources.iceberg_meta import (
        is_iceberg_table,
        iceberg_snapshot,
    )
    from embeddinghub_spark.sources.iceberg_write import (
        upsert_iceberg_cdc,
        write_iceberg,
    )

    exists = is_iceberg_table(path) and (
        iceberg_snapshot(path)["snapshot_id"] is not None
    )
    if exists and batch_id <= last_committed_streaming_batch(path):
        return None  # replayed batch: already folded in
    # the batch subtree feeds several sequential jobs (emptiness probe,
    # key-contract aggregate, equality-delete keys, staged write) —
    # compute it once; bytes cached ∝ |batch|, never the table (r17)
    batch = batch.localCheckpoint(eager=False)
    if batch.isEmpty():
        return None
    props = {"streaming.last-batch-id": str(batch_id)}
    if not exists:
        # first batch: same key-uniqueness contract the upsert path
        # enforces (in-batch duplicates have no defined winner)
        dup = (
            batch.groupBy(*key_cols).count()
            .filter("count > 1").take(1)
        )
        if dup:
            from embeddinghub_spark.sources.iceberg_write import (
                IcebergWriteError,
            )

            raise IcebergWriteError(
                "duplicate keys in the first batch — resolve to one "
                "row per key before the sink"
            )
        return write_iceberg(batch, path, properties=props)
    return upsert_iceberg_cdc(
        spark, path, batch, key_cols=key_cols, properties=props,
        checkpoint_source=False,
    )


def streaming_upsert_iceberg(
    stream_df: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    *,
    compact_every: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the sink (see module docstring). ``compact_every=N``
    folds the accumulated equality deletes with ``compact_iceberg``
    after every Nth batch — the read-amplification valve.
    ``available_now=False`` leaves the trigger continuous (the
    default drains what is available and stops — the batch-refresh
    shape the tests and backfills use)."""
    from embeddinghub_spark.sources.iceberg_write import compact_iceberg

    return _start_upsert_stream(
        stream_df,
        lambda spark, df, bid: apply_upsert_batch(
            spark, path, df, bid, key_cols
        ),
        lambda spark: compact_iceberg(spark, path),
        compact_every,
        checkpoint_dir,
        available_now,
    )
