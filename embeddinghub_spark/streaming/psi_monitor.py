"""Streaming drift monitor: Population Stability Index of a live
stream against a frozen reference distribution.

Composes ``operators/batch.py psi_drift``'s math with the
transactional foreachBatch discipline of ``streaming/cms_by.py``:

- at setup, the REFERENCE histogram (bin grid from the reference's
  min/max, bin counts) freezes on disk — the serving-time monitor
  never rescans training data;
- each micro-batch bins its rows on that fixed grid (map-only; one
  bounded ≤ n_bins-row aggregate per batch) and +-merges into the
  current-side counter table behind a symlink-flip commit carrying
  the committed-batch watermark — counts are not idempotent under
  replay, so replayed micro-batch ids are SKIPPED (exactly-once
  effects on at-least-once delivery, the CMS pattern);
- ``read_psi`` computes the index from (reference, current) counters
  — a few-row driver-side read, safe to poll from an alerting loop.

After the stream drains, the PSI equals the batch ``psi_drift`` over
everything ingested, however the stream was sliced — pinned by test,
including a simulated replay.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from embeddinghub_spark.functions.profile import _bin_counts, _quantile_pick
from embeddinghub_spark.streaming._state import (
    _merge_commit,
    _start_stream,
    _stream_batch_id,
)

_META = "_psi_meta.json"
_REF = "reference"
_CUR = "current"


def freeze_reference(
    ref: DataFrame, state_dir: str, value_col: str, n_bins: int = 10
) -> None:
    """Materialize the reference histogram: (lo, hi) grid bounds from
    the reference min/max plus per-bin counts. One bounded aggregate
    pass; the result is a ≤ n_bins-row table."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    c = F.col(value_col).cast("double")
    mm = ref.agg(F.min(c).alias("_lo"), F.max(c).alias("_hi"))
    counts = (
        _bin_counts(ref, [], value_col, mm, n_bins)
        .crossJoin(F.broadcast(mm))
        .select(
            F.col("_bin").alias("bin"),
            F.col("_cnt").alias("n"),
            F.col("_lo").alias("lo"),
            F.col("_hi").alias("hi"),
        )
    )
    counts.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(state_dir, _REF)
    )


def _grid(spark: SparkSession, state_dir: str) -> DataFrame:
    """The frozen reference grid as the one-row ``(_lo, _hi)`` bounds
    frame of the profile sketch core."""
    ref = spark.read.parquet(os.path.join(state_dir, _REF))
    return ref.select(F.col("lo").alias("_lo"), F.col("hi").alias("_hi")).limit(1)


def _merge_bins(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    value_col: str,
    n_bins: int,
    batch_id: int | None,
    checkpoint_dir: str | None,
) -> bool:
    binned = _bin_counts(
        batch, [], value_col, _grid(spark, state_dir), n_bins
    ).select(F.col("_bin").alias("bin"), F.col("_cnt").alias("n"))
    return _merge_commit(
        spark, os.path.join(state_dir, _CUR), binned, ["bin"], F.sum, _META,
        batch_id, checkpoint_dir,
    )


def merge_batch_bins(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    batch_id: int,
    value_col: str,
    n_bins: int = 10,
) -> bool:
    """Bin one micro-batch on the FROZEN reference grid and +-merge
    into the current-side counters; SKIP (False) when ``batch_id`` is
    already committed."""
    return _merge_bins(
        spark, state_dir, batch, value_col, n_bins, batch_id, None
    )


def read_psi(
    spark: SparkSession, state_dir: str, n_bins: int = 10
) -> float:
    """Current PSI of everything ingested vs the frozen reference —
    same Laplace-smoothed formula as ``psi_drift`` (driver-side over
    ≤ 2·n_bins counter rows)."""
    ref = {
        r["bin"]: r["n"]
        for r in spark.read.parquet(os.path.join(state_dir, _REF)).collect()
    }
    cur_dir = os.path.join(state_dir, _CUR)
    cur = {}
    if os.path.islink(cur_dir) or os.path.isdir(cur_dir):
        cur = {
            r["bin"]: r["n"] for r in spark.read.parquet(cur_dir).collect()
        }
    rt = sum(ref.values())
    ct = sum(cur.values())
    psi = 0.0
    for b in range(n_bins):
        p = (ref.get(b, 0) + 0.5) / (rt + 0.5 * n_bins)
        q = (cur.get(b, 0) + 0.5) / (ct + 0.5 * n_bins)
        psi += (q - p) * math.log(q / p)
    return psi


def read_quantiles(
    spark: SparkSession,
    state_dir: str,
    quantiles: list[float],
    n_bins: int = 10,
) -> list[tuple[float, float]]:
    """Streaming quantiles of everything ingested so far, from the
    SAME monitor state PSI reads: the frozen reference grid plus the
    +-merged current bin counts. A live p50/p95 gate costs one small
    query over ≤ 2·n_bins state rows — no rescan, no extra stream.

    The pick is the one ``profile.histogram_quantiles`` calls
    (cumulative counts on the grid, linear interpolation inside the
    hit bin, round 6 HALF_UP), so after the stream drains the answers
    equal the batch sketch over the ingested rows — pinned by test —
    with one caveat: the grid froze on the REFERENCE min/max, so
    values outside it were clamped into the edge bins and estimates
    clamp to [lo, hi]. That is the monitoring contract (drift beyond
    the reference range saturates the edge, which PSI flags); for
    exact tails re-freeze on a wider reference.

    Output: ``(quantile, value)`` pairs ascending, empty if nothing
    has been ingested.
    """
    if not quantiles or not all(0.0 < q <= 1.0 for q in quantiles):
        raise ValueError("quantiles must be in (0, 1]")
    cur_dir = os.path.join(state_dir, _CUR)
    if not (os.path.islink(cur_dir) or os.path.isdir(cur_dir)):
        return []
    cur = spark.read.parquet(cur_dir)
    bounds = _grid(spark, state_dir).crossJoin(cur.agg(F.sum("n").alias("_n")))
    bins = cur.select(F.col("bin").alias("_bin"), F.col("n").alias("_cnt"))
    return sorted(
        (r["quantile"], r["value"])
        for r in _quantile_pick(bins, bounds, [], quantiles, n_bins).collect()
    )


def streaming_psi(
    stream_df: DataFrame,
    state_dir: str,
    value_col: str,
    n_bins: int = 10,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start the monitor: requires ``freeze_reference`` to have run
    against ``state_dir`` first."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _merge_bins(
            batch_df.sparkSession, state_dir, batch_df, value_col, n_bins,
            _stream_batch_id(batch_id, checkpoint_dir), checkpoint_dir,
        )

    return _start_stream(
        stream_df, process_batch, checkpoint_dir, trigger_available_now
    )
