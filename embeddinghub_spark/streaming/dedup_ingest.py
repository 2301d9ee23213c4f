"""Dedup-on-ingest: streaming near-duplicate filtering against a
growing on-disk MinHash band index.

The batch dedup family (functions/dedup.py) answers "which documents
in this corpus are near-duplicates"; a real ingestion pipeline asks
the ONLINE form: "is this incoming document a near-duplicate of
anything I've already accepted?" — and must answer it without
re-reading the corpus per batch. This module composes the existing
incremental band index (``minhash_index_append`` /
``minhash_index_probe``) under Structured Streaming ``foreachBatch``:

per micro-batch
  1. PROBE the batch against the index — candidates come only from
     shared band buckets; the corpus text is never read (the index
     holds (id, band, band_hash) rows, bucket-partitioned on disk;
     AQE broadcasts the probe's narrow key rows while they fit —
     enabling dynamic partition pruning — and falls back to a
     shuffle join on the bucketed key for oversized batches);
  2. find WITHIN-BATCH candidate pairs (banded self-join of the
     batch's own band rows — bytes ∝ |batch|, not the corpus);
  3. a document is REJECTED iff it has any candidate with a SMALLER
     id (within the batch) or any candidate already in the index;
     accepted rows append to ``out_dir`` as parquet;
  4. ALL batch documents' band rows append to the index — including
     rejected ones, which makes the reject rule depend only on the
     candidate RELATION, not on earlier accept/reject outcomes (no
     chaining: if b was rejected because of a, a later c pairing
     only with b is still rejected — b is in the index).

Determinism contract: when ingestion is id-monotone (each batch's
ids are >= every previously seen id — the natural crawl/ingest
order), the final accepted set is EXACTLY the batch-replay answer
"keep d iff no candidate a exists with a.id < d.id", however the
stream is sliced into micro-batches (pinned by test with 1-file and
4-file triggers). Under out-of-order arrival the result degrades to
greedy-by-arrival (a late-arriving smaller id cannot retroactively
reject an already-accepted document) — the same contract every
streaming dedup has.

Scale shape per batch: probe join work ∝ |batch| × bands (probe side
broadcast); within-batch pair join is the standard banded self-join;
index append is one bucket-clustering exchange of the batch's rows.
State lives on disk in the bucket-partitioned index — no driver
state, no unbounded in-memory set.

Reference semantics: SURVEY §2 C20/S7 streaming ingest +
the dedup coverage brief; dedup rule matches
``functions/dedup.py minhash_duplicate_pairs`` (a < b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from embeddinghub_spark.streaming._state import (
    _last_committed_batch,
    _record_committed_batch,
    _start_stream,
)


def _ingest_batch(batch, index_dir, out_dir, id_col, probe, pairs, append):
    """The dedup-on-ingest steps for one batch; each family supplies
    ``probe()`` (index hits as (probe_id, index_id)), ``pairs()``
    (within-batch (id_a < id_b) pairs) and ``append()`` (all batch
    rows into the index).

    Torn-replay guard: foreachBatch may re-deliver a batch whose band
    rows a crashed attempt already appended. Index hits on the batch's
    OWN ids are dropped (in-batch pairs are the smaller-id rule's
    job), so the replay recomputes the same reject set instead of
    self-rejecting; under normal id-monotone ingest this matches
    nothing. What remains, documented not hidden: the accepted-output
    append is not transactional with the index append, so a crash
    between them leaves the batch's accepted rows duplicated in
    ``out_dir`` after replay (same rows) — readers needing exactly-once
    dedupe on id; the streaming checkpoint keeps this window one
    batch wide."""
    import pyarrow.fs as pafs

    from embeddinghub_spark.functions.ann_index import _index_fs

    rejected = None
    # 1. probe vs the already-ingested corpus (index may not exist yet),
    # listed through the filesystem Spark writes it to (a file:// URI too)
    fs, root = _index_fs(index_dir)
    if any(
        f.base_name.startswith("bucket=")
        for f in fs.get_file_info(pafs.FileSelector(root, allow_not_found=True))
    ):
        hits = probe().join(
            batch.select(F.col(id_col).alias("index_id")),
            "index_id",
            "left_anti",
        )
        rejected = hits.select(F.col("probe_id").alias(id_col)).distinct()
    # 2. within-batch pairs, smaller id wins
    in_batch = pairs().select(F.col("id_b").alias(id_col)).distinct()
    rejected = in_batch if rejected is None else rejected.union(in_batch).distinct()
    # 3. accepted rows append to the output
    batch.join(rejected, id_col, "left_anti").write.mode("append").parquet(out_dir)
    # 4. ALL batch docs enter the index (reject rule = candidate
    # relation only — see module docstring)
    append()


def _start_ingest(
    stream_df, index_dir, checkpoint_dir, trigger_available_now, ingest
) -> StreamingQuery:
    """Both ingest streams: ``ingest(batch_df)`` per micro-batch behind
    the committed-batch stamp in ``index_dir``, so a replay of a
    fully-applied batch (crash after its writes, before the streaming
    checkpoint commit) is a no-op. Without a checkpoint nothing
    replays, so there is no stamp to keep."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if checkpoint_dir:
            if batch_id <= _last_committed_batch(index_dir, checkpoint_dir):
                return
        ingest(batch_df)
        if checkpoint_dir:
            _record_committed_batch(index_dir, batch_id, checkpoint_dir)

    return _start_stream(
        stream_df, process_batch, checkpoint_dir, trigger_available_now
    )


def dedup_ingest_batch(
    batch_df: DataFrame,
    index_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    n_buckets: int = 16,
) -> None:
    """Process ONE batch: probe, within-batch pairs, accept/reject,
    index append. Usable directly for incremental batch ingest; the
    streaming entry point below wires it into foreachBatch. One
    lazily-checkpointed band frame (with bucket) feeds the probe, the
    within-batch pairs and the index append, so the MinHash signature
    is computed once per batch."""
    from embeddinghub_spark.functions.dedup import (
        _MINHASH_SIDECAR,
        _bucket_append,
        _minhash_index_params,
        _minhash_index_probe_rows,
        _minhash_index_rows,
        _minhash_pairs,
    )

    spark = batch_df.sparkSession
    # lazy: the accepted-write job materializes the checkpoint and the
    # index append reuses the cached partitions — eager paid a whole
    # extra job per micro-batch just to populate the cache (r16)
    batch = batch_df.localCheckpoint(eager=False)
    banded = _minhash_index_rows(
        batch, text_col, id_col, num_hashes, bands, shingle_n, n_buckets
    ).localCheckpoint(eager=False)
    params = _minhash_index_params(num_hashes, bands, shingle_n, n_buckets)
    _ingest_batch(
        batch, index_dir, out_dir, id_col,
        probe=lambda: _minhash_index_probe_rows(
            spark, index_dir, banded, id_col, params
        ),
        pairs=lambda: _minhash_pairs(banded, id_col),
        append=lambda: _bucket_append(
            banded, index_dir, n_buckets, _MINHASH_SIDECAR, params
        ),
    )


def streaming_dedup_ingest(
    stream_df: DataFrame,
    index_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    n_buckets: int = 16,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start the dedup-on-ingest stream: accepted (non-near-dup)
    rows land in ``out_dir``; every document's band rows land in the
    ``index_dir`` band index, which outlives the stream and serves
    later probes/ingests with the same recorded parameters."""
    return _start_ingest(
        stream_df, index_dir, checkpoint_dir, trigger_available_now,
        lambda batch_df: dedup_ingest_batch(
            batch_df, index_dir, out_dir, text_col, id_col,
            num_hashes, bands, shingle_n, n_buckets,
        ),
    )


def emb_dedup_ingest_batch(
    batch_df: DataFrame,
    index_dir: str,
    out_dir: str,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 2,
    seed: int = 7,
    n_buckets: int = 16,
) -> None:
    """Process ONE batch of embeddings: probe the on-disk sign-LSH
    index (exact-cosine verified), find within-batch near-dup pairs,
    accept/reject, append ALL band rows to the index — the embedding
    twin of ``dedup_ingest_batch`` with the identical no-chaining
    reject rule (reject iff ANY verified candidate has a smaller id
    in-batch, or exists in the index at all; every document's bands
    enter the index regardless of verdict, so the rule depends only
    on the candidate relation, never on earlier outcomes).

    Per-batch work: probe join ∝ |batch| × bands (narrow probe keys
    AQE-broadcast while they fit → index scan bucket-pruned; the
    batch's vectors re-join by id only after candidate generation),
    within-batch banded self-join ∝ |batch|, index append one bucket
    exchange of the batch's rows. No driver state, no corpus
    re-read. One lazily-checkpointed band frame (with bucket) feeds
    the probe keys, the within-batch self-join
    (``embedding_near_duplicates``' pair join, explicit planes frozen
    in the index sidecar) and the index append, so the plane
    projection is evaluated once per batch."""
    from embeddinghub_spark.functions.dedup import (
        _EMB_INDEX_SIDECAR,
        _bucket_append,
        _emb_band_pairs,
        _emb_index_params,
        _emb_index_probe_rows,
        _emb_index_rows,
    )

    spark = batch_df.sparkSession
    # lazy for the same reason as the text twin above (r16)
    batch = batch_df.localCheckpoint(eager=False)
    banded = _emb_index_rows(
        batch, dim, id_col, vec_col, n_planes, bands, seed, n_buckets
    ).localCheckpoint(eager=False)
    params = _emb_index_params(dim, n_planes, bands, seed, n_buckets)
    _ingest_batch(
        batch, index_dir, out_dir, id_col,
        probe=lambda: _emb_index_probe_rows(
            spark, index_dir, banded, dim, threshold, id_col, vec_col, params
        ),
        pairs=lambda: _emb_band_pairs(banded, dim, id_col, vec_col).filter(
            F.col("cosine") >= threshold
        ),
        append=lambda: _bucket_append(
            banded, index_dir, n_buckets, _EMB_INDEX_SIDECAR, params
        ),
    )


def streaming_embedding_dedup_ingest(
    stream_df: DataFrame,
    index_dir: str,
    out_dir: str,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 2,
    seed: int = 7,
    n_buckets: int = 16,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start the embedding dedup-on-ingest stream: accepted
    (non-near-dup) vectors land in ``out_dir``; every vector's band
    rows (with the vector, for exact-cosine verification of later
    probes) land in the ``index_dir`` sign-LSH index, which outlives
    the stream. Under id-monotone arrival the accepted set equals the
    batch rule "keep x iff no banded candidate y < x with
    cosine ≥ threshold", whatever the micro-batch slicing (pinned by
    test — the ``streaming_dedup_ingest`` contract on vectors)."""
    return _start_ingest(
        stream_df, index_dir, checkpoint_dir, trigger_available_now,
        lambda batch_df: emb_dedup_ingest_batch(
            batch_df, index_dir, out_dir, dim, threshold, id_col,
            vec_col, n_planes, bands, seed, n_buckets,
        ),
    )
