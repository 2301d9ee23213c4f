"""The one micro-batch core behind every ``streaming/`` entry point.

Each streaming module supplies only its per-batch math; the protocol
around it lives here once, so its rules cannot drift between stores:

- ``_start_stream``: the foreachBatch writer tail every stream ends in.
- ``_start_upsert_stream``: the Delta and Iceberg upsert sinks' batch
  body — apply the batch, then compact every ``compact_every`` batches.
- ``_last_committed_batch`` / ``_record_committed_batch``: the
  committed-batch watermark, a stamp ``{"committed_batch",
  "checkpoint"}``. Batch ids number from 0 per checkpoint, so a
  checkpointless stream applies every batch and writes no stamp
  (nothing replays it); a checkpointed stream skips only batches at or
  below a stamp written under its OWN checkpoint; a direct call with an
  explicit ``batch_id``, and a stamp without a ``checkpoint`` key,
  compare ids only. (The Delta and Iceberg sinks keep the watermark in
  the table commit instead.)
- ``_merge_commit``: the algebraic stores (auc, cms, distinct, psi) —
  skip a committed batch, union the prior state, ``groupBy(keys)``
  with one aggregate, write a one-file version, commit.
- ``_check_params``: the sketch parameters a store was built with (HLL
  ``p``, CMS ``depth``/``width``) are stamped next to its state in
  ``_sketch_params.json``, carried over by every later merge, and
  checked on merge and read: a register or counter table read with
  other parameters answers wrong without any error. State written
  before the stamp existed has none and is read as before.
- ``commit_version_dir``: the versioned commit every ``*_dir`` store
  (and ``cdc_ingest``) uses. The stamp lands in the version dir BEFORE
  the flip, so a version is never observable without its watermark; a
  legacy plain-dir snapshot is migrated; orphan ``.v-*``/``.legacy-*``
  siblings are swept. The symlink flip itself, with its stale
  ``.link-*`` sweep, is ``sources.sinks._flip_symlink`` — shared with
  ``atomic_update`` and the bucketed snapshot commit.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from embeddinghub_spark.sources.sinks import _flip_symlink

_STAMP = "_ingest_commit.json"
_PARAMS = "_sketch_params.json"


def _start_stream(
    stream_df,
    process_batch,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start ``process_batch(batch_df, batch_id)`` as a foreachBatch
    stream and return the ``StreamingQuery``."""
    writer = stream_df.writeStream.foreachBatch(process_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _start_upsert_stream(
    stream_df,
    apply_batch,
    compact,
    compact_every: int | None,
    checkpoint_dir: str,
    available_now: bool,
):
    """Start a table-format upsert sink: ``apply_batch(spark, batch_df,
    batch_id)`` folds each micro-batch in (None when it skipped a
    replayed or empty batch); after every ``compact_every``-th
    committed batch ``compact(spark)`` runs the format's compaction —
    the read-amplification valve."""
    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if (
            apply_batch(spark, batch_df, batch_id) is not None
            and compact_every
            and batch_id > 0
            and batch_id % int(compact_every) == 0
        ):
            compact(spark)

    return _start_stream(stream_df, process_batch, checkpoint_dir, available_now)


def _stamp_file(stamp_dir: str, name: str):
    """(pyarrow filesystem, path) of the stamp ``name`` in
    ``stamp_dir``, through ``ann_index._index_fs``: a ``file://`` URI
    keeps its stamp next to the state, not under ``./file:/`` in the
    working directory. A local dir has its symlinks resolved."""
    from embeddinghub_spark.functions.ann_index import _index_fs

    fs, root = _index_fs(stamp_dir)
    if "://" not in stamp_dir:
        root = os.path.realpath(root)
    return fs, f"{root}/{name}"


def _owner(checkpoint_dir: str) -> str:
    """The stamp's record of a checkpoint: a URI as given, a local path
    made absolute."""
    return checkpoint_dir if "://" in checkpoint_dir else os.path.abspath(
        checkpoint_dir
    )


def _last_committed_batch(
    stamp_dir: str, checkpoint_dir: str | None, name: str = _STAMP
) -> int:
    """The batch id stamped in ``stamp_dir``, or -1 when there is none
    or it belongs to another stream's checkpoint.
    ``checkpoint_dir=None`` is a direct call: ids only."""
    import pyarrow.fs as pafs

    fs, path = _stamp_file(stamp_dir, name)
    if fs.get_file_info(path).type != pafs.FileType.File:
        return -1
    with fs.open_input_stream(path) as fh:
        meta = json.loads(fh.read())
    owner = meta.get("checkpoint")
    if owner and checkpoint_dir and owner != _owner(checkpoint_dir):
        return -1
    return int(meta["committed_batch"])


def _record_committed_batch(
    stamp_dir: str,
    batch_id: int,
    checkpoint_dir: str | None,
    name: str = _STAMP,
) -> None:
    """Atomically stamp ``batch_id`` as fully applied (tmp + rename),
    under ``checkpoint_dir`` when there is one."""
    meta: dict = {"committed_batch": int(batch_id)}
    if checkpoint_dir:
        meta["checkpoint"] = _owner(checkpoint_dir)
    fs, path = _stamp_file(stamp_dir, name)
    fs.create_dir(path.rsplit("/", 1)[0], recursive=True)
    with fs.open_output_stream(path + ".tmp") as fh:
        fh.write(json.dumps(meta).encode())
    fs.move(path + ".tmp", path)


def _stream_batch_id(batch_id: int, checkpoint_dir: str | None) -> int | None:
    """The id a stream guards and stamps its commit with: None without
    a checkpoint — nothing replays, so every batch applies unstamped."""
    return batch_id if checkpoint_dir else None


def _is_committed(
    state_dir: str, batch_id: int | None, checkpoint_dir: str | None, name: str
) -> bool:
    return batch_id is not None and batch_id <= _last_committed_batch(
        state_dir, checkpoint_dir, name
    )


def _check_params(state_dir: str, params: dict) -> dict:
    """Raise ValueError, naming both values, when the live version of
    ``state_dir`` is stamped with other sketch parameters than
    ``params``; return its stamp with ``params`` added. Unstamped (or
    absent) state passes: nothing records what it was built with."""
    path = os.path.join(os.path.realpath(state_dir), _PARAMS)
    stamped: dict = {}
    if os.path.isfile(path):
        with open(path) as fh:
            stamped = json.load(fh)
    bad = [
        f"{k}={stamped[k]} (stamped), {k}={v} (this call)"
        for k, v in params.items()
        if k in stamped and stamped[k] != v
    ]
    if bad:
        raise ValueError(
            f"sketch state {state_dir} was built with other parameters: "
            + "; ".join(bad)
        )
    return {**stamped, **params}


def _commit_frame(
    state_dir: str,
    df,
    batch_id: int | None,
    checkpoint_dir: str | None,
    name: str,
    params: dict | None = None,
) -> None:
    """Write ``df`` as the next version of ``state_dir``, stamp it
    (unless ``batch_id`` is None) and its sketch ``params`` (when
    given), and flip it live."""
    phys = new_version_dir(state_dir)
    df.write.parquet(phys)
    if batch_id is not None:
        _record_committed_batch(phys, batch_id, checkpoint_dir, name)
    if params:
        with open(os.path.join(phys, _PARAMS), "w") as fh:
            json.dump(params, fh)
    commit_version_dir(state_dir, phys)


def _merge_commit(
    spark,
    state_dir: str,
    batch,
    keys: list[str],
    agg,
    name: str = _STAMP,
    batch_id: int | None = None,
    checkpoint_dir: str | None = None,
    params: dict | None = None,
) -> bool:
    """Fold one batch's partial state into ``state_dir``: every
    non-key column merges with ``agg`` (``F.sum`` for counters,
    ``F.max`` for HLL registers). Returns False — and writes nothing —
    when ``batch_id`` is already committed; ``batch_id=None`` merges
    without a watermark. ``params`` (the batch's sketch parameters)
    must agree with the state's stamp; the new version carries the
    stamp with ``params`` added."""
    if _is_committed(state_dir, batch_id, checkpoint_dir, name):
        return False
    params = _check_params(state_dir, params or {})
    merged = batch
    if os.path.islink(state_dir) or os.path.isdir(state_dir):
        prior = spark.read.parquet(state_dir).select(*batch.columns)
        merged = merged.unionByName(prior)
    merged = merged.groupBy(*keys).agg(
        *[agg(c).alias(c) for c in batch.columns if c not in keys]
    )
    _commit_frame(
        state_dir, merged.coalesce(1), batch_id, checkpoint_dir, name, params
    )
    return True


def new_version_dir(state_dir: str) -> str:
    """Path for the next version directory (not yet created — the
    caller writes its parquet there, then calls commit_version_dir)."""
    return state_dir + ".v-" + uuid.uuid4().hex[:8]


def commit_version_dir(
    state_dir: str,
    phys: str,
    batch_id: int | None = None,
    meta_name: str | None = None,
) -> None:
    """Atomically make ``phys`` the live version of ``state_dir``.

    - Optionally stamps ``{meta_name: {"committed_batch": batch_id}}``
      inside ``phys`` FIRST, so a version is never observable without
      its watermark (the transactional exactly-once gate).
    - Flips the ``state_dir`` symlink (``_flip_symlink``) — readers see
      the old version XOR the new one, never a partial state.
    - A legacy PLAIN-dir snapshot (seeded outside the symlink
      protocol) is moved aside before the flip (``os.replace`` cannot
      replace a real directory with a symlink) and then retired.
    - Sweeps orphan ``.v-*`` siblings that no link references — a
      crash between version-write and flip would otherwise leak state
      unboundedly across restarts.
    """
    if meta_name is not None and batch_id is not None:
        _record_committed_batch(phys, batch_id, None, meta_name)
    prev = os.path.realpath(state_dir) if os.path.islink(state_dir) else None
    if prev is None and os.path.isdir(state_dir):
        prev = state_dir + ".legacy-" + uuid.uuid4().hex[:8]
        os.rename(state_dir, prev)
    _flip_symlink(state_dir, phys)
    if prev and os.path.isdir(prev):
        shutil.rmtree(prev, ignore_errors=True)
    live = os.path.realpath(state_dir)
    stem = os.path.basename(state_dir)
    parent = os.path.dirname(os.path.abspath(state_dir))
    for name in os.listdir(parent):
        # .v-*: crash between version-write and flip; .legacy-*: crash
        # after moving a legacy plain dir aside but before retiring it
        if name.startswith((stem + ".v-", stem + ".legacy-")):
            cand = os.path.join(parent, name)
            if os.path.realpath(cand) != live:
                shutil.rmtree(cand, ignore_errors=True)
