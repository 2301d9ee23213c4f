"""Streaming ROC-AUC monitor: per-score counts merged across
micro-batches — the EVAL companion to ``streaming/psi_monitor.py``
(drift watches the features; this watches the model's discrimination
as labeled events arrive, e.g. click/convert feedback joining scores
hours later).

The sufficient statistic for tie-aware rank-sum AUC is exactly the
distinct-score table ``(score, n, n_pos)`` that ``metrics.binary_auc``
builds — and with in-op quantization that table is BOUNDED
(≤ 10^quantize + 1 rows for [0,1] scorers), so streaming AUC is just:
per micro-batch, one bounded count aggregate (exchange ≤ grid rows
however large the batch), +-merged into an on-disk state table.
Counts merge by +, which is NOT idempotent, so the merge uses the
``streaming/cms_by.py`` transactional discipline: the state commit
records the folded micro-batch id, a replayed batch id is SKIPPED
(exactly-once effects on at-least-once delivery), and commits are
atomic symlink flips.

``read_auc`` computes the exact tie-aware AUC from the merged state
at any moment — after the stream drains it equals ``binary_auc`` over
the whole input (pinned by test, including a simulated replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from embeddinghub_spark.functions.metrics import _rank_sum_auc
from embeddinghub_spark.streaming._state import (
    _merge_commit,
    _start_stream,
    _stream_batch_id,
)

_META = "_auc_meta.json"


def _batch_score_counts(
    df: DataFrame, score_col: str, label_col: str, quantize: int
) -> DataFrame:
    """(s, n, p) per distinct quantized score for one batch — the
    ``binary_auc`` collapse, clamped to [0,1] so the state stays on a
    closed bounded grid."""
    s = F.round(
        F.greatest(
            F.lit(0.0),
            F.least(F.lit(1.0), F.col(score_col).cast("double")),
        ),
        quantize,
    )
    return (
        df.filter(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .select(s.alias("s"), F.col(label_col).cast("int").alias("_y"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_y").alias("p"))
    )


def merge_score_counts_dir(
    spark: SparkSession,
    state_dir: str,
    batch_counts: DataFrame,
    batch_id: int,
) -> bool:
    """Transactionally +-merge a batch's (s, n, p) counts: SKIPS
    (returns False) when ``batch_id`` is already committed. Atomic
    symlink-flip commit of (counts, watermark) together — the
    ``cms_by.merge_counters_dir`` discipline on the AUC state."""
    return _merge_commit(
        spark, state_dir, batch_counts, ["s"], F.sum, _META, batch_id
    )


def read_auc(spark: SparkSession, state_dir: str) -> DataFrame:
    """Exact tie-aware AUC from the merged state — the ``binary_auc``
    doubled-integer rank-sum over the (bounded) distinct-score table;
    the window partitions trivially (grid ≤ 10^q+1 rows). Output: one
    row (auc, n_pos, n_neg), AUC NULL while either class is empty."""
    ps = spark.read.parquet(state_dir).select(
        F.col("s"), F.col("n").alias("_n"), F.col("p").alias("_p")
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    return _rank_sum_auc(
        ps.withColumn("_cb", F.sum("_n").over(w) - F.col("_n"))
    )


def streaming_auc(
    stream_df: DataFrame,
    state_dir: str,
    score_col: str = "score",
    label_col: str = "label",
    quantize: int = 4,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming AUC monitor: per micro-batch, one bounded
    distinct-score aggregate transactionally +-merged into
    ``state_dir``; ``read_auc`` serves the gate number at any time.
    After the stream drains the state equals the batch ``binary_auc``
    collapse over the whole input."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        counts = _batch_score_counts(batch_df, score_col, label_col, quantize)
        _merge_commit(
            batch_df.sparkSession, state_dir, counts, ["s"], F.sum, _META,
            _stream_batch_id(batch_id, checkpoint_dir), checkpoint_dir,
        )

    return _start_stream(
        stream_df, process_batch, checkpoint_dir, trigger_available_now
    )
