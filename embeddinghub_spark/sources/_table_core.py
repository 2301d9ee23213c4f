"""The table-format core that Delta (``delta_log.py``) and Iceberg
(``iceberg_write.py`` / ``iceberg_meta.py``) share.

Both formats are a log over immutable parquet files (Armbrust et al.,
*Delta Lake*, VLDB 2020; the Iceberg table spec), so everything on the
data-file side of a write, a compaction, a change feed or a retention
sweep is the same for both; only the log or manifest encoding and each
format's protocol gates differ. This module holds that side once:

- ``_put_if_absent``: the commit claim both logs publish through;
- ``_merge_schema_error``: the schema-evolution contract of a
  ``merge_schema`` append;
- ``_stage``: the staged write — the ``''``-partition guard, Spark's
  parquet writer into ``_staging_<hex>``, the hive dir decode, the
  uuid rename into the table and the footer stats;
- ``_bin_pack``: compaction's small-file pick, output count and row
  shaping;
- ``_change_feed``: the per-commit file diff behind the change feed;
- ``_sweep_orphans``: the retention-guarded delete of unreferenced
  files and of crashed writers' staging dirs.

No helper knows which format called it: each caller passes its own
file identity, sizes, scan and keep set.
"""

from __future__ import annotations

import math
import os
import shutil
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_STAGING = "_staging_"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _put_if_absent(final: str, payload: str) -> bool:
    """Publish ``payload`` at ``final`` only if no other writer has:
    write a temp file unique to this writer (a shared name would let
    two same-version writers overwrite each other's payload), fsync
    it, then ``os.link`` it to ``final`` — the link fails if the name
    is taken, the local-filesystem form of the put-if-absent both
    protocols require. True on claim, False if another writer owns
    ``final``."""
    tmp = f"{final}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _merge_schema_error(ours: dict, theirs: dict) -> str | None:
    """Why a ``merge_schema`` append of columns ``ours`` into a table
    of columns ``theirs`` (each name -> (type, required)) is unsound, or
    None: a shared name with another type, a required table column the
    append omits, or a new required column, which the existing files
    carry no values for."""
    clash = sorted(n for n in set(ours) & set(theirs)
                   if ours[n][0] != theirs[n][0])
    if clash:
        return (
            f"merge_schema type mismatch on {clash}: table has "
            f"{ {n: theirs[n][0] for n in clash} }, DataFrame has "
            f"{ {n: ours[n][0] for n in clash} }"
        )
    omitted = sorted(n for n, (_, req) in theirs.items() if req and n not in ours)
    if omitted:
        return ("merge_schema append omits non-nullable (REQUIRED) table "
                f"columns {omitted}")
    new_req = sorted(n for n, (_, req) in ours.items() if req and n not in theirs)
    if new_req:
        return (f"merge_schema cannot add non-nullable columns {new_req}: "
                "existing files carry no values for them")
    return None


def _stage(
    df: DataFrame,
    table_root: str,
    dest_dir: str,
    partition_by: list[str],
    prefix: str = "",
) -> list[tuple]:
    """Write ``df`` with Spark's parquet writer (hive ``partitionBy``
    layout, partition columns stripped from the files) into a fresh
    ``_staging_<hex>`` dir under ``table_root``, then move each file to
    the same partition subdir of ``dest_dir`` under a fresh
    ``<prefix><uuid hex>.parquet`` name. Returns, in sorted stage order,
    one ``(rel, abs, rows, size, raw_pvals, bounds)`` per file: ``rel``
    is '/'-separated and relative to ``dest_dir``, ``raw_pvals`` maps
    each partition column to its decoded dir value (None for NULL) and
    ``bounds`` is the footer's ``parquet_stats.column_bounds``.

    Raises before writing anything when a string partition column holds
    ``''``: Spark writes both NULL and ``''`` to
    ``__HIVE_DEFAULT_PARTITION__``, so ``''`` would read back as NULL
    with no way to recover it. The probe is one pushed-down filter over
    the string partition columns only."""
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    from embeddinghub_spark.sources.parquet_stats import column_bounds

    str_pcols = [
        f.name for f in df.schema.fields
        if f.name in partition_by and isinstance(f.dataType, T.StringType)
    ]
    if str_pcols and df.filter(
        reduce(lambda a, b: a | b, [F.col(c) == "" for c in str_pcols])
    ).take(1):
        raise ValueError(
            "empty-string value in string partition column(s) "
            f"{str_pcols}: hive layout collapses '' to NULL "
            f"({_HIVE_NULL}) and the value is unrecoverable on read — "
            "normalize to NULL (or a sentinel) before writing"
        )
    stage = os.path.join(table_root, f"{_STAGING}{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage)
    out = []
    for root, _dirs, fnames in sorted(os.walk(stage)):
        rel_dir = os.path.relpath(root, stage)
        segs = [] if rel_dir == "." else rel_dir.split(os.sep)
        # Spark %XX-escapes special chars in hive dir names; the value
        # is the real string (the escaping is a path artifact)
        pvals = {
            k: None if v == _HIVE_NULL else unquote(v)
            for k, _, v in (s.partition("=") for s in segs)
        }
        for f in sorted(fnames):
            if not f.endswith(".parquet"):
                continue
            rel = "/".join(segs + [f"{prefix}{uuid.uuid4().hex}.parquet"])
            dst = os.path.join(dest_dir, *rel.split("/"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(root, f), dst)
            meta = pq.read_metadata(dst)
            out.append((rel, dst, meta.num_rows, os.path.getsize(dst),
                        pvals, column_bounds(meta)))
    shutil.rmtree(stage, ignore_errors=True)
    return out


def _bin_pack(
    files: list,
    size_of,
    target_file_bytes: int,
    min_files: int,
    sort_by: list[str] | None,
    scan,
    must=lambda f: False,
) -> tuple[list, DataFrame] | None:
    """Compaction's shape: pick every file smaller than
    ``target_file_bytes`` or one ``must`` rewrite; None when fewer than
    ``max(2, min_files)`` are picked and none must be. Otherwise
    ``(picked, rows)``: ``scan(picked)`` cut into
    ``ceil(picked bytes / target)`` partitions, range-clustered and
    sorted within each by ``sort_by`` when given (tight, mostly disjoint
    per-file bounds for data skipping), else evenly repartitioned."""
    target = int(target_file_bytes)
    picked = [f for f in files if size_of(f) < target or must(f)]
    if len(picked) < max(2, int(min_files)) and not any(map(must, picked)):
        return None
    n_out = max(1, math.ceil(sum(size_of(f) for f in picked) / target))
    rows = scan(picked)
    if sort_by:
        rows = rows.repartitionByRange(
            n_out, *[F.col(c) for c in sort_by]
        ).sortWithinPartitions(*sort_by)
    else:
        rows = rows.repartition(n_out)
    return picked, rows


def _change_feed(
    spark,
    schema: T.StructType,
    key_cols: list[str],
    version_col: str,
    states,
    file_key,
    scan,
) -> DataFrame:
    """Change rows across a run of table states. ``states`` yields
    ``(version, state, files, diff)`` oldest first; the first is the
    range's base. Data files are immutable, so the rows a step changed
    live entirely in the files it removed or added (by ``file_key``):
    ``scan(state, files)`` reads each side (removed ones in the earlier
    state) and ``row_dml.change_rows`` full-outer-joins them on
    ``key_cols``, one bounded join per step, unioned. A step with
    ``diff`` False only moves the base (a rearrangement-only commit
    changes no row values). Output: ``schema`` + ``_change_type`` +
    ``version_col``; an empty frame of that shape when nothing
    changed."""
    from embeddinghub_spark.sources.row_dml import change_rows

    for k in key_cols:
        if k not in schema.fieldNames():
            raise ValueError(f"key column {k!r} not in table schema")

    def read(state, files: list) -> DataFrame:
        return scan(state, files) if files else spark.createDataFrame([], schema)

    out: DataFrame | None = None
    base = None
    for version, state, files, diff in states:
        keyed = {file_key(f): f for f in files}
        if base is not None and diff:
            prev_state, prev = base
            removed = [f for k, f in prev.items() if k not in keyed]
            added = [f for k, f in keyed.items() if k not in prev]
            if removed or added:
                step = change_rows(
                    read(prev_state, removed), read(state, added),
                    schema.fieldNames(), key_cols, version_col, version,
                )
                out = step if out is None else out.unionByName(step)
        base = (state, keyed)
    if out is None:
        return spark.createDataFrame([], T.StructType(
            list(schema.fields)
            + [T.StructField("_change_type", T.StringType(), False),
               T.StructField(version_col, T.LongType(), False)]
        ))
    return out


def _stale(p: str, cutoff_ms: float) -> bool:
    """True when ``p`` — a file, or a dir judged by its newest file —
    was last modified before ``cutoff_ms``; False once it is gone."""
    try:
        mtime = os.stat(p).st_mtime
        if os.path.isdir(p):
            mtime = max(
                (os.stat(os.path.join(r, f)).st_mtime
                 for r, _d, fs in os.walk(p) for f in fs),
                default=mtime,
            )
    except OSError:
        return False
    return mtime * 1000 < cutoff_ms


def _sweep_orphans(
    table_root: str,
    keep: set[str],
    suffixes: tuple[str, ...],
    skip_dirs: tuple[str, ...],
    retain_ms: int,
    now_ms: int | None,
    dry_run: bool,
) -> list[str]:
    """Delete what no kept state references and nothing has touched for
    ``retain_ms``: every file under ``table_root`` (``skip_dirs`` at the
    top level never entered) ending in one of ``suffixes`` whose
    realpath is not in ``keep``, and every top-level ``_staging_*`` dir
    a crashed writer left, whole. The retention window is what protects
    an in-flight writer, whose files exist before its commit does.
    Returns the deleted (with ``dry_run``, the would-be-deleted) file
    paths, sorted."""
    cutoff = (time.time() * 1000 if now_ms is None else now_ms) - retain_ms
    victims: list[str] = []
    stale_stages: list[str] = []
    for root, dirs, files in os.walk(table_root):
        if root == table_root:
            stages = [d for d in dirs if d.startswith(_STAGING)]
            dirs[:] = [d for d in dirs if d not in skip_dirs + tuple(stages)]
            for d in stages:
                sdir = os.path.join(root, d)
                if _stale(sdir, cutoff):
                    stale_stages.append(sdir)
                    victims.extend(
                        os.path.realpath(os.path.join(r, f))
                        for r, _d, fs in os.walk(sdir) for f in fs
                    )
        for fn in (f for f in files if f.endswith(suffixes)):
            fp = os.path.realpath(os.path.join(root, fn))
            if fp not in keep and _stale(fp, cutoff):
                victims.append(fp)
    victims.sort()
    if not dry_run:
        for fp in victims:
            try:
                os.unlink(fp)
            except OSError:
                pass
        for sdir in stale_stages:
            shutil.rmtree(sdir, ignore_errors=True)
    return victims
