"""Sinks (SURVEY §2.1 S8-S11, C18 atomic update).

Reference: timestamped output dirs ``offline_store_spark_runner.py:
895-909``, CSV sink ``:910-919``, online-store push ``:420-485,
583-669``, atomic swap ``provider/sql.go:1858-1882``.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame


def timestamped_output_dir(base: str) -> str:
    """S8 naming: ``<base>/<yyyy-MM-dd-HH-mm-ss-SSSSSS>`` (runner :897-901)."""
    t = time.time()
    frac = int((t - int(t)) * 1_000_000)
    stamp = time.strftime("%Y-%m-%d-%H-%M-%S", time.gmtime(t)) + f"-{frac:06d}"
    return os.path.join(base, stamp)


def write_parquet(
    df: DataFrame, base_dir: str, compression: str | None = None
) -> str:
    """S8: parquet sink into a fresh timestamped dir (newest dir = the
    current version, exactly how the reference Spark store finds the
    latest training set — provider/spark.go:1648-1650).
    ``compression`` overrides the session codec (e.g. ``zstd`` —
    Spark-native, ~30% smaller than snappy on text-heavy tables at
    similar scan speed; at 100 TB that is real storage and
    scan-bandwidth money)."""
    out = timestamped_output_dir(base_dir)
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.parquet(out)
    return out


def write_csv(df: DataFrame, base_dir: str, header: bool = True) -> str:
    """S9: CSV sink with header toggle (runner :910-919)."""
    out = timestamped_output_dir(base_dir)
    df.write.mode("overwrite").option("header", str(header).lower()).csv(out)
    return out


def latest_output_dir(base: str) -> str | None:
    """Resolve newest timestamped dir (provider/spark.go:1648-1650)."""
    if not os.path.isdir(base):
        return None
    subdirs = sorted(d for d in os.listdir(base) if os.path.isdir(os.path.join(base, d)))
    return os.path.join(base, subdirs[-1]) if subdirs else None


_LINEAGE_FILE = "_lineage.json"


def _write_lineage(version_dir: str, parent: str | None) -> None:
    import json

    with open(os.path.join(version_dir, _LINEAGE_FILE), "w") as f:
        json.dump({"parent": parent}, f)


def _read_lineage_parent(version_dir: str) -> str | None:
    import json

    p = os.path.join(version_dir, _LINEAGE_FILE)
    if not os.path.isfile(p):
        return None
    try:
        with open(p) as f:
            return json.load(f).get("parent")
    except (ValueError, OSError):
        return None


def _all_version_dirs(target_dir: str) -> list[str]:
    return [p for p in glob.glob(target_dir + ".v-*") if os.path.isdir(p)]


def list_versions(target_dir: str) -> list[str]:
    """COMMITTED snapshot versions of an ``atomic_update`` target,
    oldest → newest. Anchored at the committed symlink, not mtime:
    ``realpath(target_dir)`` is version 0 and history is walked via
    per-version parent pointers (``_lineage.json``, written before
    the symlink swap). A writer that crashed after its parquet write
    but before the swap leaves an orphan ``.v-*`` dir that is NOT
    reachable from the symlink, so it can never surface as a
    version here (it is cleaned by the next ``atomic_update``)."""
    if not os.path.islink(target_dir):
        return []
    chain = []
    cur: str | None = os.path.realpath(target_dir)
    seen = set()
    while cur and os.path.isdir(cur) and cur not in seen:
        seen.add(cur)
        chain.append(cur)
        cur = _read_lineage_parent(cur)
    return list(reversed(chain))


def read_version(spark, target_dir: str, steps_back: int = 0) -> DataFrame:
    """Time-travel read over the retained versions: ``steps_back=0``
    is the current snapshot (exactly ``realpath(target_dir)``, i.e.
    the committed symlink — never an uncommitted orphan), ``1`` the
    one before, … bounded by the writer's ``keep_versions``. The
    local-filesystem analogue of Delta/Iceberg ``VERSION AS OF`` —
    same call site on a cluster, connector time-travel options
    instead (read_table handles those).
    """
    vs = list_versions(target_dir)
    if steps_back >= len(vs):
        raise ValueError(
            f"only {len(vs)} versions retained at {target_dir!r}; "
            f"cannot step back {steps_back} (raise keep_versions on write)"
        )
    return spark.read.parquet(vs[-1 - steps_back])


def _flip_symlink(target_dir: str, version_dir: str) -> None:
    """Repoint the ``target_dir`` symlink at ``version_dir`` atomically:
    a temp link plus one ``os.replace`` — readers see old XOR new. Then
    sweep stale ``.link-*`` temp links (a crash between the symlink
    and the replace leaves one, and nothing else would ever remove
    it). The one flip behind ``atomic_update``, the bucketed snapshot
    commit and the streaming state stores; each keeps its own
    retention policy for the superseded versions."""
    tmp_link = target_dir + ".link-" + uuid.uuid4().hex[:8]
    os.symlink(version_dir, tmp_link)
    os.replace(tmp_link, target_dir)
    for stale in glob.glob(glob.escape(target_dir) + ".link-*"):
        if os.path.islink(stale):
            try:
                os.unlink(stale)
            except OSError:
                pass


def atomic_update(df: DataFrame, target_dir: str, keep_versions: int = 2) -> str:
    """C18: refresh a materialized output atomically.

    Reference pattern: build a temp table, swap/rename in a
    transaction (provider/sql.go:1858-1882 ``atomicUpdate``). Local
    filesystem equivalent: write a fresh versioned dir, then repoint a
    symlink at ``target_dir`` with one ``os.replace`` — a single
    syscall, so a concurrent reader resolving ``target_dir`` never
    sees ENOENT (a two-rename dir swap has a visible gap between the
    renames). Readers that already opened the old version keep reading
    it; its files are pruned on the next update, not this one.
    On object stores this maps to Delta/Iceberg ``overwrite``
    (commit-log atomicity) — same call site, different path scheme.
    """
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    version_dir = target_dir + ".v-" + uuid.uuid4().hex[:8]
    df.write.mode("overwrite").parquet(version_dir)
    if not os.path.islink(target_dir) and os.path.isdir(target_dir):
        # migrate a legacy plain dir into the versioned scheme
        legacy = target_dir + ".v-" + uuid.uuid4().hex[:8]
        os.rename(target_dir, legacy)
        _write_lineage(legacy, None)
        parent: str | None = os.path.abspath(legacy)
    else:
        parent = (
            os.path.realpath(target_dir) if os.path.islink(target_dir) else None
        )
    # lineage lands BEFORE the swap: a crash between here and the
    # os.replace leaves version_dir unreachable from the symlink, so
    # list_versions/read_version never surface it and the next
    # successful update garbage-collects it below.
    _write_lineage(version_dir, parent)
    _flip_symlink(target_dir, version_dir)
    # prune to the newest keep_versions COMMITTED dirs (the lineage
    # chain from the symlink). The default (2: new + just-superseded)
    # is the reader grace window; larger values turn the retained tail
    # into a time-travel history (read_version). Any .v-* dir NOT on
    # the committed chain is an orphan from a crashed writer — it
    # counts toward nothing and is removed here.
    committed = list_versions(target_dir)
    keep = {os.path.abspath(p) for p in committed[-keep_versions:]}
    for d in _all_version_dirs(target_dir):
        if os.path.abspath(d) not in keep:
            shutil.rmtree(d, ignore_errors=True)
    return target_dir


def erase_entities(
    spark,
    target_dir: str,
    entity_col: str,
    keys,
    keep_versions: int = 1,
) -> str:
    """Right-to-erasure over a C18-versioned table: rewrite the
    current version WITHOUT the given entities and commit it through
    the same atomic swap refreshes use — readers see the old snapshot
    XOR the erased one, never a partial delete. ``keys`` is a Python
    list (≤ a few thousand ids — becomes a plan literal ``isin``, no
    shuffle added) or a DataFrame of keys (anti-join — the bulk path
    when the deletion list is itself a table).

    ``keep_versions`` defaults to 1 — unlike a refresh, erasure is
    only real once the superseded versions holding the data are GONE,
    so the time-travel tail is purged in the same commit. Pass a
    larger value only when a retention policy explicitly allows the
    grace window (and document why). Returns ``target_dir``.

    On Delta/Iceberg this maps to ``DELETE WHERE`` + ``VACUUM``; the
    call-site contract (erase + purge history in one operation) is
    the same.
    """
    cur = read_version(spark, target_dir, 0)
    kept = _erasure_plan(cur, entity_col, keys)
    return atomic_update(kept, target_dir, keep_versions=keep_versions)


def _erasure_plan(cur: DataFrame, entity_col: str, keys) -> DataFrame:
    """The rows-that-survive plan for ``erase_entities`` (split out so
    tests can pin its shape). DataFrame keys use a PLAIN left-anti
    join — no forced broadcast: a deletion list can itself be huge (a
    GDPR batch over a 100 TB table), so AQE picks broadcast when the
    key table is under the threshold and shuffles otherwise (ADVICE
    r6; forcing broadcast OOMs the driver on large lists)."""
    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import functions as F

    if isinstance(keys, _DF):
        kdf = keys.toDF(entity_col).dropDuplicates()
        return cur.join(kdf, entity_col, "left_anti")
    keys = list(keys)
    if not keys:
        raise ValueError("keys must be non-empty")
    # NULL-keyed rows are not "in keys" — keep them explicitly
    # (a bare ~isin filters NULLs out too: three-valued logic)
    return cur.filter(
        F.col(entity_col).isNull() | ~F.col(entity_col).isin(keys)
    )


# -- S11: online-store push ---------------------------------------------------

_TARGET_PARTITION_BYTES = 128 * 1024 * 1024  # runner :617-660
_DEFAULT_STRING_BYTES = 50  # runner :588-613
_DEFAULT_OTHER_BYTES = 100


def estimate_row_bytes(df: DataFrame) -> int:
    """Row-size heuristic mirroring runner :588-613 (string cols 50 B,
    numerics by width, unknown 100 B)."""
    sizes = {
        "tinyint": 1, "smallint": 2, "int": 4, "integer": 4, "bigint": 8,
        "long": 8, "float": 4, "double": 8, "boolean": 1, "timestamp": 8,
        "date": 4, "string": _DEFAULT_STRING_BYTES,
    }
    total = 0
    for f in df.schema.fields:
        total += sizes.get(f.dataType.simpleString(), _DEFAULT_OTHER_BYTES)
    return max(total, 1)


def online_push_partitions(row_count: int, row_bytes: int) -> int:
    """Partition count for a sink push: ~128 MB/partition (runner
    :617-660). On a 1000-executor cluster this is what bounds
    concurrent writers against the KV store."""
    return max(1, math.ceil(row_count * row_bytes / _TARGET_PARTITION_BYTES))


def push_online(df: DataFrame, writer=None) -> dict:
    """S11/V4: drain a materialization into an online KV snapshot.

    With ``writer`` (a ``fn(iterator_of_rows)``), uses
    ``foreachPartition`` after 128 MB-target repartitioning — the
    distributed path (runner :420-485). Without, collects into a dict
    (local serving snapshot; fine because materializations are
    per-entity-latest, i.e. bounded by |entities|).
    """
    if writer is not None:
        n = online_push_partitions(df.count(), estimate_row_bytes(df))
        df.repartition(n).foreachPartition(writer)
        return {}
    cols = df.columns
    entity_col = cols[0]
    return {r[entity_col]: r.asDict() for r in df.collect()}


def write_jsonl_shards(
    df: DataFrame,
    base_dir: str,
    target_mb: int = 64,
    sample_rows: int = 1000,
    compression: str | None = "gzip",
) -> str:
    """Export as newline-delimited JSON shards — the training-data
    interchange format every downstream tokenizer/loader reads (one
    JSON object per line, size-targeted shard files so a 1000-worker
    data loader gets balanced, individually-streamable inputs).

    Each row serializes via ``to_json(struct(*))`` — JVM-side, no
    Python in the path — and lands in a fresh timestamped dir under
    ``base_dir`` (the S8 convention: newest dir = current version).
    Shard count = ceil(estimated_bytes / target_mb) where the
    estimate is the mean serialized line length of a bounded
    ``sample_rows`` driver sample × the exact row count — measured on
    the REAL JSON (a text corpus's bytes live in the text column,
    which schema-width heuristics like ``estimate_row_bytes`` miss
    by orders of magnitude). The sample takes the head of EVERY
    partition (ceil(sample_rows / n_partitions) rows each, lazily —
    the iterator stops after k rows per partition), not one
    partition's head: tables written sorted by length (compaction,
    Z-order) would otherwise bias the estimate by whatever lives in
    partition 0 (ADVICE r6). Wildly length-skewed corpora should
    still raise ``sample_rows``.

    Cost: one count pass + the serialize-write pass; the repartition
    is the one shuffle (round-robin, so shards are level even when
    the source partitioning is not). ``compression='gzip'`` by
    default (~4× on text, universally decodable); pass None for raw.
    Returns the new directory.
    """
    if target_mb < 1:
        raise ValueError("target_mb must be >= 1")
    from pyspark.sql import functions as F

    lines = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    n_part = max(1, lines.rdd.getNumPartitions())
    per_part = max(1, math.ceil(sample_rows / n_part))
    import itertools

    sample = [
        len(v.encode("utf-8")) + 1
        for v in lines.rdd.mapPartitions(
            lambda it: itertools.islice((r["value"] for r in it), per_part)
        ).collect()
    ]
    n_rows = df.count()
    avg = (sum(sample) / len(sample)) if sample else 1.0
    n_files = max(1, math.ceil(n_rows * avg / (target_mb * 1024 * 1024)))
    out = timestamped_output_dir(base_dir)
    writer = lines.repartition(n_files).write
    if compression:
        writer = writer.option("compression", compression)
    writer.text(out)
    return out


def dir_bytes(spark, path: str) -> int:
    """Total bytes under ``path`` via the Hadoop FileSystem API — the
    portable size probe (local/HDFS/S3A all answer it), so compaction
    decisions use REAL on-disk size, not a row-count guess."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(jpath).getLength())


def compact_dir(
    spark,
    src_dir: str,
    base_dir: str,
    target_mb: int = 128,
) -> str:
    """Small-file compaction — the housekeeping every long-lived
    streaming/backfill table needs (each micro-batch or backfill wave
    leaves its own files; a 100 TB table accreting thousands of
    sub-MB files pays per-file open cost on EVERY scan and floods the
    driver's split planning). Re-writes ``src_dir`` as
    ``ceil(bytes / target_mb)`` files into a fresh timestamped dir
    under ``base_dir`` (the S8 convention — the newest dir is the
    current version, so readers never see a half-compacted table and
    the old version remains for time travel).

    ``target_mb`` defaults to 128 — the parquet-block/HDFS sweet spot
    Spark's own ``maxPartitionBytes`` targets, so post-compaction
    scans get one well-sized split per file. Uses ``coalesce`` when
    REDUCING file count below the current partition count (no
    shuffle — each output file is a concatenation of input splits);
    falls back to ``repartition`` only when the source is a single
    oversized file that must be SPLIT (a shuffle is then the price of
    parallel writes). Returns the new directory.
    """
    if target_mb < 1:
        raise ValueError("target_mb must be >= 1")
    df = spark.read.parquet(src_dir)
    size = dir_bytes(spark, src_dir)
    n_files = max(1, math.ceil(size / (target_mb * 1024 * 1024)))
    cur = df.rdd.getNumPartitions()
    out = timestamped_output_dir(base_dir)
    if n_files <= cur:
        df.coalesce(n_files).write.parquet(out)
    else:
        df.repartition(n_files).write.parquet(out)
    return out
