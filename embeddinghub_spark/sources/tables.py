"""Catalog-table sinks: CTAS, create-or-replace, MERGE upsert
(SURVEY §2.1 S10/S12, §2.2 C17).

Reference:
  - C17 transformation-as-table: ``provider/sql.go:1941-1945``
    (``CREATE TABLE t AS SELECT * FROM (<user query>)``), exercised by
    ``provider/offline_test.go``'s transformation suite.
  - S10 Iceberg/Delta table sink: ``offline_store_spark_runner.py:
    920-949`` (``createOrReplace``).
  - S12 MERGE upsert: ``offline_store_spark_runner.py:688-765``
    (``IcebergMaterializationTable.merge_in`` — feature columns merged
    into a wide entity table keyed by entity).
  - Atomic swap-on-refresh: ``provider/sql.go:1858-1882``
    (``atomicUpdate``: build tmp table → drop target → rename).

Spark-first mapping: CTAS/createOrReplace are ``saveAsTable``
(``writeTo(...).createOrReplace()`` where a v2 catalog — Delta or
Iceberg — is installed); MERGE is ``MERGE INTO`` when the catalog
supports it, else a join+union rebuild committed via the reference's
own tmp-table/rename transaction, so the table is never observable in
a half-written state.

Scale notes: the rebuild path shuffles once on the merge keys (the
anti-join); at 100 TB the right physical strategy is (a) broadcast the
update side when it is a small delta — the common case for
materialization refreshes — which Spark picks automatically under
AQE, or (b) a real Delta MERGE (file-pruned by key stats) when the
connector is present. Both live behind the same call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _qualify(table: str) -> str:
    return ".".join(f"`{p}`" for p in table.split("."))


def create_table_as(
    df: DataFrame,
    table_name: str,
    mode: str = "errorifexists",
    fmt: str = "parquet",
    path: str | None = None,
) -> str:
    """C17: CREATE TABLE AS SELECT — persist a DataFrame as a catalog
    table (provider/sql.go:1941-1945). ``path`` makes it an external
    table (location-pinned; survives session restarts against the same
    warehouse). Returns the table name.
    """
    writer = df.write.format(fmt).mode(mode)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
    return table_name


def create_or_replace_table(
    df: DataFrame, table_name: str, fmt: str = "parquet", path: str | None = None
) -> str:
    """S10: createOrReplace table sink (runner :920-949).

    Prefers the V2 ``writeTo(...).createOrReplace()`` path (atomic for
    Delta/Iceberg catalogs); session-catalog parquet tables don't
    support REPLACE TABLE, so fall back to ``saveAsTable(overwrite)``.
    """
    from embeddinghub_spark.observability import record_branch

    try:
        df.writeTo(table_name).using(fmt).createOrReplace()
        record_branch("create_or_replace_table", "writeTo_v2", table_name)
        return table_name
    except Exception as exc:
        record_branch(
            "create_or_replace_table", "saveAsTable_overwrite",
            f"{table_name}: v2 path unavailable ({type(exc).__name__})",
        )
        return create_table_as(df, table_name, mode="overwrite", fmt=fmt, path=path)


def merge_upsert_table(
    spark: SparkSession,
    target_table: str,
    source: DataFrame,
    key_cols: list[str],
    fmt: str = "parquet",
) -> str:
    """S12: MERGE upsert into a catalog table keyed by ``key_cols``.

    Semantics (runner merge_in :755-765): WHEN MATCHED → UPDATE SET
    all source columns; WHEN NOT MATCHED → INSERT. Tries a real
    ``MERGE INTO`` first (works on Delta/Iceberg tables, where the
    commit is atomic); plain parquet session-catalog tables don't
    support row-level MERGE, so the fallback rebuilds
    target←(target ▷ source) ∪ source and swaps it in via the
    reference's tmp-table transaction (provider/sql.go:1858-1882).

    Honesty note on the fallback commit: the session catalog has no
    multi-statement transactions, so DROP old + RENAME tmp are two
    statements with a gap — a concurrent reader can see the table
    missing in between, and a crash in the gap leaves only the
    ``<target>__ff_tmp`` table. On failure the swap attempts to
    rename the tmp back; if that also fails the error names the
    recovery table. Where a Delta/Iceberg catalog is present the
    MERGE branch applies and none of this window exists.
    """
    from embeddinghub_spark.observability import record_branch

    tgt = _qualify(target_table)
    source_cols = source.columns
    view = f"_merge_src_{abs(hash(target_table)) % 10**8}"
    source.createOrReplaceTempView(view)
    try:
        spark.sql(build_merge_into_sql(tgt, view, key_cols, source_cols))
        record_branch("merge_upsert_table", "merge_into", target_table)
        return target_table
    except Exception as exc:
        record_branch(
            "merge_upsert_table", "rebuild_swap",
            f"{target_table}: no row-level-op support ({type(exc).__name__})",
        )
    finally:
        spark.catalog.dropTempView(view)

    target_df = spark.table(target_table)
    merged = merge_upsert_df(target_df, source, key_cols)
    # reference atomicUpdate transaction: tmp table → drop → rename
    tmp = target_table + "__ff_tmp"
    merged.write.format(fmt).mode("overwrite").saveAsTable(tmp)
    spark.sql(f"DROP TABLE IF EXISTS {tgt}")
    try:
        spark.sql(f"ALTER TABLE {_qualify(tmp)} RENAME TO {tgt}")
    except Exception as exc:
        # the gap hit: target is gone, data lives under the tmp name —
        # surface the recovery table instead of failing opaquely
        raise RuntimeError(
            f"merge_upsert_table swap failed after DROP; merged data is "
            f"intact in recovery table {tmp!r} — rename it to "
            f"{target_table!r} to finish the commit"
        ) from exc
    return target_table


def build_merge_into_sql(
    target: str, source_view: str, key_cols: list[str], source_cols: list[str]
) -> str:
    """The MERGE INTO statement the connector branch runs (runner
    :755-765 shape). Pure string builder so its well-formedness is
    unit-testable even where no catalog supports row-level MERGE."""
    on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in key_cols)
    sets = ", ".join(f"t.`{c}` = s.`{c}`" for c in source_cols if c not in key_cols)
    ins_cols = ", ".join(f"`{c}`" for c in source_cols)
    ins_vals = ", ".join(f"s.`{c}`" for c in source_cols)
    return (
        f"MERGE INTO {target} t USING {source_view} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def merge_upsert_df(
    target: DataFrame, source: DataFrame, key_cols: list[str]
) -> DataFrame:
    """MERGE as a pure DataFrame expression: rows of ``target`` whose
    key has no update survive (left_anti), every ``source`` row lands
    (update or insert). Column set follows the target; source must
    carry all target columns (wide-table merge contract, runner
    :688-765)."""
    survivors = target.join(source.select(*key_cols).distinct(), key_cols, "left_anti")
    return survivors.unionByName(source.select(*target.columns))


def merge_upsert_dir(
    spark: SparkSession,
    target_dir: str,
    source: DataFrame,
    key_cols: list[str],
) -> str:
    """S12 on a parquet dir (the path-based world every other sink
    lives in): read current snapshot (empty on first run), merge, and
    commit via the single-syscall symlink flip in
    ``sinks.atomic_update``. The new version is written to a fresh
    dir, so the read-while-write hazard of overwriting in place never
    arises. This is C20's distributed snapshot path — the per-batch
    merge a streaming materialization commits (no driver dict).
    """
    import os

    from embeddinghub_spark.sources.sinks import atomic_update

    if os.path.exists(target_dir):
        current = spark.read.parquet(target_dir)
        merged = merge_upsert_df(current, source, key_cols)
    else:
        merged = source
    return atomic_update(merged, target_dir)


def merge_materialization_dir(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    entity_col: str = "entity",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """Newest-wins merge of a latest-value materialization delta into
    a snapshot dir: like ``merge_upsert_dir`` but a matched entity is
    only replaced when the update's ts is newer (ties: larger value —
    the C3 tiebreak). Idempotent per (entity, ts, value): replaying a
    batch converges to the same snapshot, which is what makes the
    streaming path exactly-once in effect (runner merge_in :688-765
    has the same guard through Iceberg's MERGE condition).
    """
    import os

    from embeddinghub_spark.operators.materialize import materialize
    from embeddinghub_spark.sources.sinks import atomic_update

    if os.path.exists(target_dir):
        current = spark.read.parquet(target_dir)
        merged = materialize(
            current.unionByName(updates.select(*current.columns)),
            entity_col,
            value_col,
            ts_col,
        )
    else:
        merged = materialize(updates, entity_col, value_col, ts_col)
    return atomic_update(merged, target_dir)


# -- bucketed LSM snapshot merge (C20 scale path) -----------------------------
#
# A streaming materialization merges a small per-batch delta into a
# large per-entity snapshot, forever. Rewriting the whole snapshot per
# micro-batch (merge_materialization_dir above) has write amplification
# O(batches × |snapshot|): a day of 1-minute batches rewrites the full
# table 1,440×. The scale path is LSM-shaped, the merge-on-read design
# Delta/Iceberg MERGE approximates with file pruning (runner merge_in
# :688-765), expressed on a plain filesystem:
#
#   - the snapshot BASE is hash-bucketed by entity key (bucket=K dirs);
#   - each micro-batch APPENDS its per-entity-latest delta (bucketed
#     the same way) in ONE Spark job — bytes written per batch are
#     O(|batch|), independent of snapshot size;
#   - readers merge base ∪ deltas newest-wins (merge-on-read);
#   - when ``max_deltas`` deltas accumulate, COMPACTION folds them
#     into the base, rewriting only the buckets the deltas touch
#     (touched buckets are discovered by directory listing — no job).
#
# Amortized write amplification: each row is written once on append
# and once per compaction it participates in — O(1 + |touched bucket|
# / |delta| / max_deltas) ≪ full-rewrite's O(|snapshot| / |delta|).
#
# Layout (every commit is a single-syscall symlink flip, as C18):
#   <target>                symlink → <target>.v-XXXX (current version)
#   <target>.v-XXXX/        version dir:
#       _ff_buckets.json    {"n_buckets": N}
#       bucket=K            symlink → physical base bucket dir
#       _delta-SEQ-XXXX     symlink → physical delta dir (bucketed)
#   <target>.b/w-YYYY/bucket=K/   physical parquet, written once and
#                                 shared by every version that kept it
#
# ``spark.read.parquet(<target>)`` sees ONLY the base (underscore-
# prefixed delta dirs are invisible to Spark's discovery), so plain
# readers get a consistent — possibly delta-stale — snapshot with a
# `bucket` partition column. The faithful read is
# read_bucketed_snapshot (base ∪ deltas, newest-wins); a point lookup
# computes the key's bucket client-side (zlib.crc32 == Spark crc32 on
# UTF-8 bytes) and reads one bucket dir per layer: O(|entities|/N +
# |deltas|), never a full scan.

_BUCKET_META = "_ff_buckets.json"


def _bucket_expr(entity_col: str, n_buckets: int):
    """pmod(crc32(utf8(entity)), N) — chosen over hash()/xxhash64
    because zlib.crc32 reproduces it client-side for point lookups."""
    return F.pmod(
        F.crc32(F.col(entity_col).cast("string").cast("binary")), F.lit(n_buckets)
    ).cast("int")


def bucket_of(entity_value, n_buckets: int) -> int:
    """Client-side twin of _bucket_expr (no Spark job)."""
    import zlib

    return zlib.crc32(str(entity_value).encode("utf-8")) % n_buckets


def _version_layout(target_dir: str):
    """(version_dir, n_buckets, {bucket→path}, [delta paths]) of the
    current committed version; (None, None, {}, []) if none."""
    import json
    import os

    if not os.path.islink(target_dir):
        return None, None, {}, []
    version = os.path.realpath(target_dir)
    meta_path = os.path.join(version, _BUCKET_META)
    if not os.path.exists(meta_path):  # legacy flat snapshot
        return version, None, {}, []
    with open(meta_path) as fh:
        n_buckets = json.load(fh)["n_buckets"]
    buckets, deltas = {}, []
    for name in sorted(os.listdir(version)):
        full = os.path.realpath(os.path.join(version, name))
        if name.startswith("bucket="):
            buckets[int(name.split("=", 1)[1])] = full
        elif name.startswith("_delta-"):
            deltas.append((name, full))
    return version, n_buckets, buckets, deltas


def _merge_latest(frames, entity_col: str, value_col: str, ts_col: str):
    from embeddinghub_spark.operators.materialize import materialize

    df = frames[0]
    for other in frames[1:]:
        df = df.unionByName(other)
    return materialize(df, entity_col, value_col, ts_col)


def _materialize_bucketed(
    updates: DataFrame,
    entity_col: str,
    value_col: str,
    ts_col: str,
    n_buckets: int,
) -> DataFrame:
    """``materialize(updates)`` + bucket assignment in ONE exchange
    (r16): the bucket is a pure function of the entity, so
    repartitioning by it FIRST lets the latest-per-entity aggregate
    reuse that partitioning (HashPartitioning(bucket) satisfies
    ClusteredDistribution(bucket, entity)) and the bucketed write
    needs no further exchange — the previous shape paid one exchange
    for the aggregate and a second for the bucket layout. The
    max-struct fields replicate operators.materialize exactly
    (_o0=ts, _o1=value, _v=value), so the winning row per entity is
    identical. Output: (bucket, entity, value, ts), canonical names.
    """
    b = updates.withColumn("_bkt", _bucket_expr(entity_col, n_buckets))
    return (
        b.repartition(n_buckets, "_bkt")
        .groupBy(
            F.col("_bkt").alias("bucket"),
            F.col(entity_col).alias("entity"),
        )
        .agg(
            F.max(
                F.struct(
                    F.col(ts_col).alias("_o0"),
                    F.col(value_col).alias("_o1"),
                    F.col(value_col).alias("_v"),
                )
            ).alias("_w")
        )
        .select(
            "bucket",
            "entity",
            F.col("_w._v").alias("value"),
            F.col("_w._o0").alias("ts"),
        )
    )


def read_bucketed_snapshot(spark: SparkSession, target_dir: str) -> DataFrame:
    """Faithful snapshot read: base ∪ pending deltas, newest-wins.
    No deltas pending → a straight base scan (no window)."""
    version, n_buckets, buckets, deltas = _version_layout(target_dir)
    if n_buckets is None:  # legacy flat layout (or plain dir)
        df = spark.read.parquet(target_dir)
        return df.drop("bucket") if "bucket" in df.columns else df
    base = spark.read.parquet(target_dir)
    cols = [c for c in base.columns if c != "bucket"]
    base = base.select(*cols)
    if not deltas:
        return base
    # all delta layers in one multi-path scan; recursiveFileLookup
    # skips partition inference (several roots would conflict) — the
    # bucket value lives only in dir names, so the files are plain cols
    delta_df = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(*[p for _, p in deltas])
        .select(*cols)
    )
    entity_col, value_col, ts_col = cols[0], cols[1], cols[2]
    return _merge_latest([base, delta_df], entity_col, value_col, ts_col)


def read_snapshot_bucket(
    spark: SparkSession, target_dir: str, entity_value, entity_col: str = "entity"
) -> DataFrame:
    """Point-lookup path: read the ONE bucket dir the key hashes to in
    each layer (base + pending deltas) and keep the newest row —
    an O(|entities|/N + |deltas|) scan, never the full snapshot."""
    import os

    version, n_buckets, buckets, deltas = _version_layout(target_dir)
    if n_buckets is None:
        df = read_bucketed_snapshot(spark, target_dir)
        return df.filter(F.col(entity_col) == F.lit(entity_value))
    k = bucket_of(entity_value, n_buckets)
    paths = []
    if k in buckets:
        paths.append(buckets[k])
    for _, dpath in deltas:
        sub = os.path.join(dpath, f"bucket={k}")
        if os.path.exists(sub):
            paths.append(os.path.realpath(sub))
    if not paths:
        empty = spark.read.parquet(target_dir).drop("bucket").limit(0)
        return empty
    layers = [
        spark.read.parquet(p).filter(F.col(entity_col) == F.lit(entity_value))
        for p in paths
    ]
    cols = layers[0].columns
    return _merge_latest(layers, cols[0], cols[1], cols[2])


def _commit_version(
    target_dir: str, links: dict[str, str], n_buckets: int, prev_version: str | None
) -> None:
    """Assemble a new version dir of symlinks and flip <target> to it
    atomically; prune dirs unreferenced by (new, previous) versions."""
    import glob as _glob
    import json
    import os
    import shutil
    import uuid

    from embeddinghub_spark.sources.sinks import _flip_symlink

    new_version = target_dir + ".v-" + uuid.uuid4().hex[:8]
    os.makedirs(new_version)
    with open(os.path.join(new_version, _BUCKET_META), "w") as fh:
        json.dump({"n_buckets": n_buckets}, fh)
    for name, path in links.items():
        os.symlink(os.path.realpath(path), os.path.join(new_version, name))

    _flip_symlink(target_dir, new_version)

    keep = {os.path.realpath(p) for p in (new_version, prev_version) if p}
    referenced: set[str] = set()
    for v in keep:
        if os.path.isdir(v):
            for name in os.listdir(v):
                if name != _BUCKET_META:
                    referenced.add(os.path.realpath(os.path.join(v, name)))
    for old in _glob.glob(target_dir + ".v-*"):
        if os.path.realpath(old) not in keep:
            shutil.rmtree(old, ignore_errors=True)
    store = target_dir + ".b"
    for wdir in _glob.glob(os.path.join(store, "w-*")):
        real = os.path.realpath(wdir)
        subs = [os.path.join(real, d) for d in os.listdir(real)]
        if real not in referenced and not any(s in referenced for s in subs):
            shutil.rmtree(wdir, ignore_errors=True)


def _write_bucketed(
    df: DataFrame, store: str, n_buckets: int, pre_partitioned: bool = False
) -> str:
    """One physical write, hash-clustered: ≤1 file set per bucket.
    ``pre_partitioned=True`` skips the layout exchange when the input
    already arrives hash-clustered by bucket (_materialize_bucketed)."""
    import os
    import uuid

    phys = os.path.join(store, "w-" + uuid.uuid4().hex[:8])
    out = df if pre_partitioned else df.repartition(n_buckets, "bucket")
    out.write.partitionBy("bucket").mode("overwrite").parquet(phys)
    return phys


def merge_materialization_bucketed_dir(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    entity_col: str = "entity",
    ts_col: str = "ts",
    value_col: str = "value",
    n_buckets: int = 16,
    max_deltas: int = 8,
) -> str:
    """Newest-wins merge of a latest-value delta into a bucketed LSM
    snapshot: the delta is APPENDED as its own bucketed layer (one
    Spark job, bytes ∝ |delta|); once ``max_deltas`` layers pend, they
    are compacted into the base, rewriting only touched buckets.

    Same semantics as merge_materialization_dir — idempotent per
    (entity, ts, value): a replayed batch appends a duplicate layer
    whose rows can never win over themselves, so the merged view
    converges. Single-writer (a streaming query's foreachBatch); every
    commit is one atomic symlink flip, so readers always see a
    complete version. ``max_deltas=1`` forces eager compaction
    (touched-bucket rewrite per batch, zero read-side merge cost).
    """
    import os
    import uuid

    from embeddinghub_spark.operators.materialize import materialize

    if not os.path.islink(target_dir) and os.path.isdir(target_dir):
        # a legacy PLAIN-dir snapshot: folded in below as the flat base
        version, cur_n, buckets, deltas = target_dir, None, {}, []
    else:
        version, cur_n, buckets, deltas = _version_layout(target_dir)
    legacy_base = None
    if version is not None and cur_n is None:
        # legacy flat snapshot: fold it in as one more layer below
        legacy_base = spark.read.parquet(target_dir)
        if "bucket" in legacy_base.columns:
            legacy_base = legacy_base.drop("bucket")
    else:
        n_buckets = cur_n or n_buckets

    # materialize NORMALIZES output columns to (entity, value, ts) —
    # every on-disk layer and every read below uses the canonical
    # names, regardless of what the caller's input columns were named
    # (compaction on a snapshot built with custom names used to crash
    # selecting the caller names from normalized files; found in review)
    store = target_dir + ".b"
    os.makedirs(store, exist_ok=True)

    if legacy_base is not None:
        # migration: fold the flat snapshot in, then lay out (rare
        # path — keeps the straightforward two-exchange shape)
        delta = _merge_latest(
            [
                legacy_base.select("entity", "value", "ts"),
                materialize(updates, entity_col, value_col, ts_col),
            ],
            "entity", "value", "ts",
        )
        base_df = delta.withColumn("bucket", _bucket_expr("entity", n_buckets))
        phys = _write_bucketed(base_df, store, n_buckets)
        links = {
            d: os.path.join(phys, d)
            for d in os.listdir(phys)
            if d.startswith("bucket=")
        }
        if version == target_dir:
            # only now that the new version is written: move the plain
            # dir aside (a symlink cannot replace a real dir) as the
            # superseded version the next commit retires
            version = target_dir + ".v-" + uuid.uuid4().hex[:8]
            os.rename(target_dir, version)
        _commit_version(target_dir, links, n_buckets, version)
        return target_dir

    # latest-per-entity + bucket layout fused into ONE exchange (r16;
    # the aggregate reuses the bucket repartition — see
    # _materialize_bucketed), identical rows and identical ≤1-fileset-
    # per-bucket layout
    delta_b = _materialize_bucketed(
        updates, entity_col, value_col, ts_col, n_buckets
    )

    if version is None:
        # first commit: the delta IS the base
        phys = _write_bucketed(delta_b, store, n_buckets,
                               pre_partitioned=True)
        links = {
            d: os.path.join(phys, d)
            for d in os.listdir(phys)
            if d.startswith("bucket=")
        }
        _commit_version(target_dir, links, n_buckets, version)
        return target_dir

    # append path: ONE job, writes only this batch's rows
    phys = _write_bucketed(delta_b, store, n_buckets, pre_partitioned=True)
    seq = (int(deltas[-1][0].split("-")[1]) + 1) if deltas else 1
    links = {f"bucket={k}": p for k, p in buckets.items()}
    for name, p in deltas:
        links[name] = p
    links[f"_delta-{seq:04d}-{os.path.basename(phys)[2:]}"] = phys
    _commit_version(target_dir, links, n_buckets, version)

    version, _, buckets, deltas = _version_layout(target_dir)
    if len(deltas) >= max_deltas:
        _compact(spark, target_dir)  # layers hold canonical columns
    return target_dir


def _compact(
    spark: SparkSession,
    target_dir: str,
    entity_col: str = "entity",
    value_col: str = "value",
    ts_col: str = "ts",
) -> None:
    """Fold pending delta layers into the base, rewriting ONLY the
    buckets the deltas touch (discovered by listing — no Spark job).
    Untouched base buckets are carried into the new version as the
    same physical dirs."""
    import os

    version, n_buckets, buckets, deltas = _version_layout(target_dir)
    if not deltas:
        return
    touched: set[int] = set()
    for _, dpath in deltas:
        for name in os.listdir(dpath):
            if name.startswith("bucket="):
                touched.add(int(name.split("=", 1)[1]))

    cols = [entity_col, value_col, ts_col]
    layers = []
    base_paths = [buckets[k] for k in sorted(touched) if k in buckets]
    if base_paths:
        layers.append(spark.read.parquet(*base_paths).select(*cols))
    for _, dpath in deltas:
        layers.append(spark.read.parquet(dpath).drop("bucket").select(*cols))
    merged = _merge_latest(layers, entity_col, value_col, ts_col).withColumn(
        "bucket", _bucket_expr("entity", n_buckets)
    )
    store = target_dir + ".b"
    phys = _write_bucketed(merged, store, n_buckets)
    links = {f"bucket={k}": p for k, p in buckets.items() if k not in touched}
    for d in os.listdir(phys):
        if d.startswith("bucket="):
            links[d] = os.path.join(phys, d)
    _commit_version(target_dir, links, n_buckets, version)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots of the same logical table
    — the audit step between materialization refreshes (what did the
    C18 atomic update actually change?) and the verification twin of
    the S5 incremental read (an incremental pipeline's appends must
    equal the diff's ``added`` set).

    A row is ``added`` (key only in ``new``), ``removed`` (only in
    ``old``), or ``changed`` (key in both, any compared column
    differs — null-safe comparison, so NULL→value and value→NULL
    both count as changes). Unchanged rows are omitted (at 100 TB
    they are the overwhelming majority — the diff's output is
    proportional to the churn, not the table). ``compare_cols``
    defaults to every non-key column the frames share.

    Scale shape: one full-outer shuffle join on the key columns —
    the minimum possible for an unordered diff (no sort needed);
    with both snapshots bucketed by key (`_write_bucketed`) the
    exchange disappears entirely. Both inputs pass through
    ``ensure_parallelism`` first: a snapshot that is a single small
    parquet file yields ONE scan split, and the full-outer join then
    inherits parallelism 1; the fan-out is the identity whenever the
    scan already has >= cores splits, so nothing is added at cluster
    scale.

    Output: (keys..., change) with change ∈ added/removed/changed.
    """
    from ..functions.vector import ensure_parallelism

    if not keys:
        raise ValueError("keys must be non-empty")
    old, new = ensure_parallelism(old), ensure_parallelism(new)
    if compare_cols is None:
        shared = set(old.columns) & set(new.columns)
        compare_cols = [c for c in new.columns if c in shared and c not in keys]
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in keys],
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
        F.lit(True).alias("_in_new"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"_ok_{k}") == F.col(f"_nk_{k}")
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")
    # presence markers, NOT key-null tests: a row whose KEY VALUE is
    # NULL still exists on its side (key-null rows never equi-match,
    # so they always classify as added/removed — by presence)
    in_old = F.col("_in_old").isNotNull()
    in_new = F.col("_in_new").isNotNull()
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    change = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(differs, F.lit("changed"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}")).alias(k)
                for k in keys
            ],
            "change",
        )
    )


def schema_diff(old: DataFrame, new: DataFrame) -> list[dict]:
    """Schema-evolution report between two snapshots — the metadata
    twin of ``snapshot_diff``: returns a list of
    ``{"column", "change", "old_type", "new_type"}`` dicts with
    change ∈ added / removed / type_changed (simpleString
    comparison; nullability changes are ignored — parquet roundtrips
    flip it freely). Pure driver-side metadata, no jobs run; [] means
    the schemas are compatible."""
    old_types = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    new_types = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    out: list[dict] = []
    for name, t in new_types.items():
        if name not in old_types:
            out.append(
                {"column": name, "change": "added",
                 "old_type": None, "new_type": t}
            )
        elif old_types[name] != t:
            out.append(
                {"column": name, "change": "type_changed",
                 "old_type": old_types[name], "new_type": t}
            )
    for name, t in old_types.items():
        if name not in new_types:
            out.append(
                {"column": name, "change": "removed",
                 "old_type": t, "new_type": None}
            )
    return out


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Persist ``df`` as a hash-BUCKETED (and optionally sorted)
    managed table and return the re-read handle. Bucketing is the
    write-time half of shuffle elimination: a table bucketed by its
    join/aggregation key carries its partitioning in metadata, so
    every later join or groupBy on that key skips the exchange — the
    100 TB pattern for fact tables joined repeatedly on one key
    (pay one shuffle at ingest, never again). Ref parity: the
    reference's offline stores lean on warehouse-native clustering
    (e.g. the Snowflake/Redshift DDL in provider/sql.go); bucketBy is
    the Spark-native equivalent."""
    if not bucket_cols:
        raise ValueError("bucket_cols must be non-empty")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    spark = df.sparkSession
    # a fresh session's catalog may not know the table even though its
    # managed location survives on disk — overwrite alone then fails
    # with LOCATION_ALREADY_EXISTS, so drop AND clear the stale path.
    # The stale path is resolved the way the catalog would place it
    # (db location + lower-cased table name — {warehouse}/{tbl} for
    # the default db, {warehouse}/{db}.db/{tbl} otherwise), NOT a
    # naive {warehouse}/{table_name} concat which misses db-qualified
    # and case-folded names (ADVICE r5). Hadoop FS API: correct on
    # any filesystem, not just local.
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    parts = table_name.split(".")
    tbl = parts[-1].lower()
    db = parts[-2].lower() if len(parts) > 1 else spark.catalog.currentDatabase()
    db_loc = spark.catalog.getDatabase(db).locationUri
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{db_loc}/{tbl}")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
    return df.sparkSession.table(table_name)


def colocated_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    n_buckets: int = 16,
    base_name: str | None = None,
) -> DataFrame:
    """Join two frames WITHOUT a join-time shuffle by co-locating
    them first: both sides are written as tables bucketed by the join
    key with the SAME bucket count, so the sort-merge join reads
    bucket i of each side on one task — plan shows NO Exchange under
    the join (``test_colocated_join_has_no_exchange`` pins it with
    broadcast disabled). Sorting by the key at write time lets the
    SMJ skip or cheapen its sorts too.

    This trades one up-front exchange per side (inside the bucketed
    write) for zero exchanges on EVERY subsequent use — the right
    trade exactly when a table is joined/aggregated on the same key
    repeatedly, which is the feature-store shape (entity-keyed
    everything). Result is identical to the plain join.

    ``base_name`` defaults to a per-call unique name so concurrent
    callers cannot DROP each other's tables (ADVICE r5); pass a fixed
    name to reuse/overwrite a known pair of bucketed tables instead
    of accumulating new ones."""
    import uuid as _uuid

    if base_name is None:
        base_name = "colocated_" + _uuid.uuid4().hex[:8]
    lt = write_bucketed_table(
        left, f"{base_name}__l", on, n_buckets, sort_cols=on
    )
    rt = write_bucketed_table(
        right, f"{base_name}__r", on, n_buckets, sort_cols=on
    )
    return lt.join(rt, on)


def list_partition_values(spark, target_dir: str, partition_col: str) -> set:
    """Partition values already materialized under ``target_dir``
    (``col=value`` directory names, hive layout) — via the Hadoop FS
    API so any filesystem works. Values come back as STRINGS (the
    directory encoding); compare casted."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(target_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return set()
    out = set()
    prefix = f"{partition_col}="
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            out.add(name[len(prefix):])
    return out


def backfill_partitions(
    df: DataFrame,
    target_dir: str,
    partition_col: str,
) -> list:
    """Idempotent partition-wise backfill: materialize ONLY the
    partitions of ``df`` not yet present under ``target_dir``
    (hive-partitioned parquet). Returns the partition values written
    (empty = already complete — a re-run is a no-op, which is what
    makes a scheduled backfill safe to retry and what a full
    overwrite can never be).

    Scale shape: the existing-partition listing is a METADATA
    operation (one directory listing, no file reads); the wanted set
    is one distinct-aggregate on the partition column (|partitions|
    rows); the write filters the source to missing partitions —
    Catalyst prunes everything else at the scan when the source is
    itself partitioned — and appends, touching only new directories.
    Each day of a 100 TB backfill costs one day's scan, and days
    already done cost nothing.
    """
    spark = df.sparkSession
    have = list_partition_values(spark, target_dir, partition_col)
    wanted = [
        r[0]
        for r in df.select(partition_col).distinct().collect()
        if r[0] is not None
    ]
    missing = sorted(
        v for v in wanted if str(v) not in have
    )
    if missing:
        df.filter(
            F.col(partition_col).cast("string").isin(
                [str(v) for v in missing]
            )
        ).write.mode("append").partitionBy(partition_col).parquet(
            target_dir
        )
    return [str(v) for v in missing]
