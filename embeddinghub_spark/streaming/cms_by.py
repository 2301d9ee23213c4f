"""Streaming heavy-hitter counts: count-min sketch counters merged
across micro-batches — the frequency companion to
``streaming/distinct_by.py``'s grouped HLL, and the module where the
TWO streaming-merge disciplines meet:

- HLL registers merge by MAX, which is IDEMPOTENT — an at-least-once
  replayed batch converges to the identical state for free;
- CMS counters merge by +, which is NOT — a replayed batch
  double-counts. The standard remedy is the transactional
  foreachBatch pattern: the state commit records the micro-batch id
  it folded in, and a batch whose id is already committed is SKIPPED
  (Spark replays whole micro-batches with the same id after recovery,
  so id-level dedup restores exactly-once effects on top of
  at-least-once delivery).

State: one parquet counter table of at most ``depth × width`` rows +
a meta sidecar carrying the committed-batch watermark. Like the HLL
register table, it does NOT grow with the stream — the
read-merge-rewrite per batch is a bounded tiny job; commits are
atomic symlink flips so readers always see a consistent (counters,
watermark) pair.

Estimates: ``read_cms_estimates`` probes any candidate token list
against the merged counters (min over depth rows — estimate >= exact
always, the CMS guarantee); after the stream drains the counters are
bit-identical to the batch sketch over the whole input (pinned by
test, including a simulated replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from embeddinghub_spark.functions.profile import _cms_check, _cms_rows
from embeddinghub_spark.streaming._state import (
    _check_params,
    _merge_commit,
    _start_stream,
    _stream_batch_id,
)

_META = "_cms_meta.json"


def _batch_counters(df: DataFrame, text_col: str, depth: int, width: int) -> DataFrame:
    """(row, bucket, c) counters for one batch — the ``cms_topk``
    sketch build, shared md5 protocol."""
    from embeddinghub_spark.functions.text import tokens

    return (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .select(
            F.posexplode(_cms_rows(F.col("tok"), depth, width)).alias(
                "row", "bucket"
            )
        )
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("c"))
    )


def merge_counters_dir(
    spark: SparkSession,
    state_dir: str,
    batch_counters: DataFrame,
    batch_id: int,
) -> bool:
    """Transactionally +-merge a batch's counters: SKIPS (returns
    False) if ``batch_id`` is already committed — the exactly-once
    gate that idempotent max-merge state does not need. Atomic
    symlink-flip commit of (counters, watermark) together; the
    counters' ``depth``/``width`` stamp, if any, carries over."""
    return _merge_commit(
        spark, state_dir, batch_counters, ["row", "bucket"], F.sum, _META,
        batch_id,
    )


def read_cms_estimates(
    spark: SparkSession,
    state_dir: str,
    candidates: list[str],
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Probe candidate tokens against the merged counters:
    estimate = min over depth rows (>= exact count always). Output:
    (token, cms_estimate). Raises ValueError when the counters are
    stamped with another ``depth`` or ``width``; counters written
    before the stamp existed read as before."""
    _cms_check(depth, width)
    _check_params(state_dir, {"depth": depth, "width": width})
    sketch = spark.read.parquet(state_dir)
    cand = spark.createDataFrame([(t,) for t in candidates], ["token"])
    probe = cand.select(
        "token",
        F.posexplode(_cms_rows(F.col("token"), depth, width)).alias(
            "row", "bucket"
        ),
    )
    return (
        sketch.join(F.broadcast(probe), ["row", "bucket"])
        .groupBy("token")
        .agg(F.min("c").cast("bigint").alias("cms_estimate"))
    )


def streaming_cms(
    stream_df: DataFrame,
    state_dir: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 512,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming CMS: per micro-batch, one bounded counter
    aggregate (exchange ≤ depth×width rows however large the batch)
    transactionally +-merged into ``state_dir``, stamped with
    ``depth``/``width`` (a batch into counters stamped with others
    raises). After the stream drains, counters equal the batch sketch
    over the whole input."""
    _cms_check(depth, width)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        counters = _batch_counters(batch_df, text_col, depth, width)
        _merge_commit(
            batch_df.sparkSession, state_dir, counters, ["row", "bucket"],
            F.sum, _META, _stream_batch_id(batch_id, checkpoint_dir),
            checkpoint_dir, {"depth": depth, "width": width},
        )

    return _start_stream(
        stream_df, process_batch, checkpoint_dir, trigger_available_now
    )
