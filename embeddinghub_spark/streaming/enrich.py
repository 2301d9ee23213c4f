"""Stream-static enrichment that FOLLOWS feature refreshes.

The naive form — ``stream.join(spark.read.parquet(dir))`` — freezes
the static side at plan time: a C18 refresh mid-stream is invisible
until restart, so the stream keeps stamping yesterday's features onto
today's events. This module re-resolves the CURRENT version of the
feature table inside every micro-batch (``sources.sinks.read_version``
walks the C18 symlink), so a refresh is picked up at the next batch
boundary with no restart.

Output discipline: each micro-batch lands in its OWN
``batch-<id>`` subdirectory with ``mode("overwrite")`` — a replayed
micro-batch overwrites its own output instead of appending a
duplicate, giving exactly-once file output on at-least-once delivery
WITHOUT a watermark meta file (overwrite is naturally idempotent;
contrast the +-merge monitors, which need the committed-batch gate).

Reference intent: STREAMING features are served from the online store
the moment materialization refreshes (serving/serving.go:626-660);
this is the batch-output twin of that read-latest contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from embeddinghub_spark.sources.sinks import read_version
from embeddinghub_spark.streaming._state import _start_stream


def enrich_batch(
    spark: SparkSession,
    batch: DataFrame,
    features_dir: str,
    on: list[str],
    out_dir: str,
    batch_id: int,
    how: str = "left",
) -> str:
    """Join one micro-batch against the CURRENT feature version and
    write it to its own batch directory (overwrite = replay-safe).
    Returns the batch output path."""
    feats = read_version(spark, features_dir, 0)
    enriched = batch.join(feats, on, how)
    path = os.path.join(out_dir, f"batch-{int(batch_id)}")
    enriched.write.mode("overwrite").parquet(path)
    return path


def streaming_enrich(
    stream_df: DataFrame,
    features_dir: str,
    on: list[str],
    out_dir: str,
    how: str = "left",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start the enrichment stream; read the result with
    ``read_enriched``. ``features_dir`` must be a C18 versioned
    target (``atomic_update``/``latest``-style symlink)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        enrich_batch(
            batch_df.sparkSession,
            batch_df,
            features_dir,
            on,
            out_dir,
            batch_id,
            how,
        )

    return _start_stream(
        stream_df, process_batch, checkpoint_dir, trigger_available_now
    )


def read_enriched(spark: SparkSession, out_dir: str) -> DataFrame:
    """All batches' output as one frame (recursive scan over the
    per-batch directories)."""
    return (
        spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
    )
