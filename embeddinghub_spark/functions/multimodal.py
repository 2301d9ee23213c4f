"""Multimodal (image/audio/video) column plumbing for LLM pipelines.

Beyond-reference operators (BASELINE.json: "multimodal columns").
Media is an opaque ``binary`` column plus typed metadata; decode /
feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` — the only places Python touches data, and each is
batch-shaped (one pandas frame per Arrow batch, never per-row calls).

The actual codec step is STUBBED in this environment (no image/audio
libraries in the container): ``extractor="fake"`` produces a
deterministic bytes-derived feature vector so the Spark-side plumbing
(schema, batching, partitioning) is fully real and testable;
``extractor="real"`` raises NotImplementedError at the exact point a
PIL/librosa/ffmpeg call would go.

Scale notes: media bytes dominate row size — partition sizing uses
byte-budgets, not row counts (``repartition_by_bytes``); metadata-only
stages select away the binary column so Tungsten never carries blobs
through shuffles that don't need them.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    StructField,
    StructType,
)

MEDIA_META_COLS = ("media_size_bytes", "media_md5", "media_mime")


def with_media_metadata(
    df: DataFrame, binary_col: str = "media", mime_col: str | None = None
) -> DataFrame:
    """Typed metadata for an opaque binary column — all JVM-side."""
    out = df.withColumn(
        "media_size_bytes", F.length(F.col(binary_col)).cast("long")
    ).withColumn("media_md5", F.md5(F.col(binary_col)))
    mime = F.col(mime_col) if mime_col else F.lit("application/octet-stream")
    return out.withColumn("media_mime", mime)


def _fake_feature_vector(data: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a decoded-media embedding: an
    md5 HEX-STRING chain (block k+1 = md5 of block k's hex digest)
    expanded to ``dim`` floats in [-1, 1). Chaining over hex strings —
    not raw digest bytes — keeps the whole derivation replayable in
    any engine whose md5 takes strings (DuckDB's md5 is VARCHAR-only),
    which is what lets the plumbing be oracle-checked even though the
    real codec is env-stubbed. Each float is an exact multiple of
    2^-31, so double arithmetic on the values is exact."""
    out: list[float] = []
    block = hashlib.md5(data).hexdigest()
    while len(out) < dim:
        for i in range(0, 32, 8):
            if len(out) >= dim:
                break
            v = int(block[i : i + 8], 16)
            out.append((v / 2**31) - 1.0)
        block = hashlib.md5(block.encode("ascii")).hexdigest()
    return out


def extract_media_features(
    df: DataFrame,
    binary_col: str = "media",
    id_cols: list[str] | None = None,
    dim: int = 32,
    extractor: str = "fake",
    batch_target_rows: int = 256,
) -> DataFrame:
    """Decode + featurize media bytes → ``feature`` array<float>.

    ``mapInPandas`` so each Arrow batch is processed vectorized; the
    output schema drops the binary payload (features only), so the
    expensive bytes never cross the downstream shuffles.
    """
    ids = id_cols or [c for c in df.columns if c != binary_col][:1]
    out_schema = StructType(
        [df.schema[c] for c in ids]
        + [StructField("feature", ArrayType(FloatType()), False)]
    )

    if extractor not in ("fake", "real"):
        raise ValueError(f"unknown extractor {extractor!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if extractor == "real":
                raise NotImplementedError(
                    "real media decode requires image/audio codecs not present "
                    "in this environment; plug PIL/librosa/ffmpeg here"
                )
            feats = [
                _fake_feature_vector(b if b is not None else b"", dim)
                for b in pdf[binary_col]
            ]
            out = pdf[ids].copy()
            out["feature"] = feats
            yield out

    return df.select(*ids, binary_col).mapInPandas(run, out_schema)


def frame_sample(
    df: DataFrame,
    binary_col: str = "media",
    id_cols: list[str] | None = None,
    n_frames: int = 4,
) -> DataFrame:
    """Video frame sampling plumbing: one output row per sampled frame
    with (frame_idx, frame_bytes). The codec is stubbed: frames are
    deterministic byte-slices standing in for decoded frames, but the
    explode shape, schema, and per-batch behavior match the real op."""
    ids = id_cols or [c for c in df.columns if c != binary_col][:1]
    chunks = F.transform(
        F.sequence(F.lit(0), F.lit(n_frames - 1)),
        lambda i: F.struct(
            i.cast("int").alias("frame_idx"),
            # byte-slice stand-in for frame decode (substr is 1-based)
            F.substring(
                F.col(binary_col),
                (i * (F.length(F.col(binary_col)) / n_frames).cast("int")) + 1,
                (F.length(F.col(binary_col)) / n_frames).cast("int"),
            ).alias("frame_bytes"),
        ),
    )
    return (
        df.select(*ids, F.explode(chunks).alias("fr"))
        .select(*ids, F.col("fr.frame_idx").alias("frame_idx"),
                F.col("fr.frame_bytes").alias("frame_bytes"))
    )


def audio_windows(
    df: DataFrame,
    binary_col: str = "media",
    id_cols: list[str] | None = None,
    sample_rate_col: str | None = None,
    sample_rate: int = 16000,
    bytes_per_sample: int = 2,
    window_ms: int = 1000,
    hop_ms: int | None = None,
) -> DataFrame:
    """Audio segmentation plumbing — the audio analog of
    ``frame_sample``: slice a PCM payload into fixed-duration windows
    (optionally overlapping via ``hop_ms``), one output row per
    window with ``(window_idx, start_ms, window_bytes)``. This is the
    pre-segmentation every ASR / VAD / fingerprinting stage wants:
    windows become the unit of downstream ``extract_media_features``
    batches, so a 3-hour recording parallelizes instead of pinning
    one task.

    The byte math is the real contract (window bytes =
    samples-per-window × ``bytes_per_sample``, offsets from the hop),
    computed from ``sample_rate_col`` when rates vary per row or the
    ``sample_rate`` constant otherwise; the decode itself stays
    stubbed per module policy — a real librosa/ffmpeg reader plugs in
    downstream of this exact schema. Entirely JVM-side
    (sequence/explode/substring, no Python in the path); trailing
    audio shorter than a full window is dropped (the standard
    streaming-feature convention). Payload bytes stay OUT of any
    exchange — the explode is map-only.
    """
    if window_ms < 1:
        raise ValueError("window_ms must be >= 1")
    hop = window_ms if hop_ms is None else hop_ms
    if hop < 1:
        raise ValueError("hop_ms must be >= 1")
    ids = id_cols or [c for c in df.columns if c != binary_col][:1]
    rate = (
        F.col(sample_rate_col).cast("long")
        if sample_rate_col
        else F.lit(int(sample_rate)).cast("long")
    )
    win_bytes = (
        F.floor(rate * F.lit(window_ms) / F.lit(1000)).cast("long")
        * F.lit(int(bytes_per_sample))
    )
    hop_bytes = (
        F.floor(rate * F.lit(hop) / F.lit(1000)).cast("long")
        * F.lit(int(bytes_per_sample))
    )
    total = F.length(F.col(binary_col)).cast("long")
    n_win = F.when(
        (total >= win_bytes) & (win_bytes > 0) & (hop_bytes > 0),
        (F.floor((total - win_bytes) / hop_bytes) + 1).cast("int"),
    ).otherwise(F.lit(0))
    wins = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.struct(
            i.cast("int").alias("window_idx"),
            (i.cast("long") * F.lit(hop)).alias("start_ms"),
            F.substring(
                F.col(binary_col),
                (i.cast("long") * hop_bytes + 1).cast("int"),
                win_bytes.cast("int"),
            ).alias("window_bytes"),
        ),
    )
    return (
        df.filter(n_win > 0)
        .select(*ids, F.explode(wins).alias("w"))
        .select(
            *ids,
            F.col("w.window_idx").alias("window_idx"),
            F.col("w.start_ms").alias("start_ms"),
            F.col("w.window_bytes").alias("window_bytes"),
        )
    )


def repartition_by_bytes(
    df: DataFrame,
    size_col: str = "media_size_bytes",
    target_partition_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Partition count from total payload bytes, not row count — media
    rows vary by orders of magnitude (same 128 MB heuristic as the
    reference's online push, runner :617-660)."""
    total = df.agg(F.sum(size_col).alias("b")).collect()[0]["b"] or 0
    n = max(1, int(total // target_partition_bytes) + 1)
    return df.repartition(n)


PHASH_BITS = 60  # 15 md5 hex chars -> positive bigint, engine-replayable


def media_phash(
    df: DataFrame, binary_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """Perceptual-hash column for media near-dup: ``(id, phash)``
    with a 60-bit fingerprint. The hash itself is the environment's
    deterministic STUB (first 15 hex chars of md5(bytes) — the same
    engine-replayable protocol as the fake feature extractor); a real
    pHash (DCT of downscaled luma / chromaprint for audio) plugs in at
    this exact column contract, and everything downstream — banding,
    Hamming verify, clustering — is the real scale machinery. With
    the stub, only byte-identical media collide (a random 60-bit
    fingerprint); with a real pHash the same pipeline finds
    perceptual near-dups. All JVM-side (md5/conv), map-only."""
    h = F.conv(F.substring(F.md5(F.col(binary_col)), 1, 15), 16, 10).cast(
        "bigint"
    )
    return df.select(F.col(id_col), h.alias("phash"))


def media_near_dup_pairs(
    df: DataFrame,
    binary_col: str = "media",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Media near-dup candidate pairs by banded Hamming over the
    pHash: pairs within Hamming distance < ``bands`` share at least
    one exact band (pigeonhole, same guarantee as the SimHash text
    path), candidates verify with exact ``bit_count(xor)``. Output:
    (id_a, id_b, hamming). The shuffle key is a (band, 15-bit value)
    pair — media bytes are dropped after the map-only hash and never
    enter an exchange."""
    from embeddinghub_spark.functions.dedup import _bands, _bit_slices, _hamming_pairs

    slices = _bit_slices("phash", PHASH_BITS, bands, "PHASH_BITS")
    if max_hamming >= bands:
        # pigeonhole only guarantees a shared band for hamming < bands;
        # a larger radius would silently return incomplete pairs
        raise ValueError(
            f"max_hamming={max_hamming} must be < bands={bands} for the "
            "banding pigeonhole to guarantee candidate recall; raise "
            "bands (it must divide PHASH_BITS) to widen the radius"
        )
    ph = media_phash(df, binary_col, id_col)
    banded = _bands(ph, [F.col(id_col), F.col("phash")], bands, slices)
    return _hamming_pairs(banded, id_col, "phash", max_hamming)
