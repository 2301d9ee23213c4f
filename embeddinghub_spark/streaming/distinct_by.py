"""Streaming grouped distinct counts: HyperLogLog registers merged
across micro-batches.

``functions/profile.hll_distinct_by`` answers "distinct users per
source" in one batch pass; an ingest pipeline needs the ONLINE form —
the count so far, updated per micro-batch, without keeping the
distinct values anywhere. The HLL register sketch is ALGEBRAIC
(registers merge by element-wise max), so the streaming form is
exact-by-construction: merging per-batch registers into a persistent
register table yields bit-identical registers — and therefore
bit-identical estimates — to running the batch sketch over the whole
stream's union, however the stream is sliced (pinned by test). This
is the same exactly-once-in-effect argument as the C20 snapshot: the
merge is idempotent (max(a, a) = a), so an at-least-once replayed
batch converges to the identical state.

State: one parquet register table of at most ``|groups| × 2^p`` rows
(a few thousand rows for catalog-sized group counts) — the whole
point of the sketch is that this does NOT grow with the data, so the
read-merge-rewrite per batch is a bounded, tiny job; no driver-side
state, no unbounded streaming aggregation (Spark cannot chain the
two stateful aggregates the estimator needs in one streaming query —
foreachBatch with an algebraic on-disk state is the standard shape).
Commits are atomic via the repo's symlink-flip protocol, so readers
always see a complete register set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from embeddinghub_spark.functions.profile import (
    _hll_check,
    _hll_estimate_by,
    hll_register_frame,
)
from embeddinghub_spark.streaming._state import (
    _check_params,
    _merge_commit,
    _start_stream,
)


def _registers(df: DataFrame, group_col: str, value_col: str, p: int) -> DataFrame:
    """(group, bucket, max_rho) registers for one batch — the shared
    ``profile.hll_register_frame`` build (one protocol definition)."""
    return hll_register_frame(
        df.select(F.col(group_col).alias("grp"), F.col(value_col)),
        ["grp"],
        value_col,
        p,
    )


def merge_registers_dir(
    spark: SparkSession,
    state_dir: str,
    batch_registers: DataFrame,
) -> None:
    """Max-merge a batch's registers into the on-disk register table
    (atomic symlink-flip commit, the C18 protocol). The table is
    ≤ |groups| × 2^p rows, so the full rewrite is a bounded tiny job
    at ANY stream length. The table's ``p`` stamp, if any, carries
    over."""
    _merge_commit(spark, state_dir, batch_registers, ["grp", "bucket"], F.max)


def read_distinct_estimates(
    spark: SparkSession, state_dir: str, p: int = 9
) -> DataFrame:
    """Current per-group estimates from the register table — the
    ``hll_distinct_by`` estimator applied to merged registers.
    Output: (grp, approx_ndv, n_empty_buckets). Raises ValueError when
    the table is stamped with another ``p``: the estimate would be
    wrong. A table written before the stamp existed reads as before."""
    _hll_check(None, None, p, "read_distinct_estimates")
    _check_params(state_dir, {"p": p})
    return _hll_estimate_by(spark.read.parquet(state_dir), ["grp"], p)


def streaming_distinct_by(
    stream_df: DataFrame,
    state_dir: str,
    group_col: str,
    value_col: str,
    p: int = 9,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming grouped-distinct sketch: per micro-batch,
    build the batch's HLL registers (one bounded aggregate — the
    exchange carries ≤ |groups| × 2^p rows however large the batch
    is) and max-merge them into ``state_dir``, stamped with ``p`` (a
    batch into a table stamped with another ``p`` raises). Read
    estimates any time with ``read_distinct_estimates`` —
    bit-identical to the batch ``hll_distinct_by`` over everything
    ingested so far."""
    _hll_check(stream_df, value_col, p, "streaming_distinct_by")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        regs = _registers(batch_df, group_col, value_col, p)
        _merge_commit(
            batch_df.sparkSession, state_dir, regs, ["grp", "bucket"], F.max,
            params={"p": p},
        )

    return _start_stream(
        stream_df, process_batch, checkpoint_dir, trigger_available_now
    )
