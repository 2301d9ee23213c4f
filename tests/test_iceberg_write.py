"""sources/iceberg_write.py — native Iceberg v2 WRITE path.

Everything is validated through the repo's own native READER
(iceberg_meta.py — itself pinned against hand-built spec tables), plus
a Java-Avro read of the writer's manifest files so the spec'd Avro
layer is cross-validated at the REAL wire format. Connector
round-trips need the iceberg-spark JAR and are environment-gated.
"""

from __future__ import annotations

import json
import os

import pytest

from embeddinghub_spark.sources.iceberg_meta import (
    IcebergProtocolError,
    iceberg_snapshot,
    read_iceberg,
    read_iceberg_increment,
)
from embeddinghub_spark.sources.iceberg_write import (
    IcebergWriteError,
    write_iceberg,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["id", "v"])


def _rows(df):
    return {(r["id"], r["v"]) for r in df.collect()}


def test_create_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = write_iceberg(_df(spark, [(1, "a"), (2, "b")]), t)
    assert _rows(read_iceberg(spark, t)) == {(1, "a"), (2, "b")}

    s2 = write_iceberg(_df(spark, [(3, "c")]), t, mode="append")
    assert s2 != s1
    assert _rows(read_iceberg(spark, t)) == {(1, "a"), (2, "b"), (3, "c")}
    # time travel to the first snapshot
    assert _rows(read_iceberg(spark, t, snapshot_id=s1)) == {
        (1, "a"), (2, "b")
    }
    # snapshot-incremental read over the append
    assert _rows(read_iceberg_increment(spark, t, s1, s2)) == {(3, "c")}

    s3 = write_iceberg(_df(spark, [(9, "z")]), t, mode="overwrite")
    assert _rows(read_iceberg(spark, t)) == {(9, "z")}
    # history intact: all three snapshots still read
    assert _rows(read_iceberg(spark, t, snapshot_id=s2)) == {
        (1, "a"), (2, "b"), (3, "c")
    }
    snap = iceberg_snapshot(t)
    assert snap["snapshot_id"] == s3
    meta = snap["metadata"]
    # the spec'd interop property for field-id-free parquet
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    assert {m["names"][0] for m in nm} == {"id", "v"}
    # parent chain recorded
    snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
    assert snaps[s2]["parent-snapshot-id"] == s1
    assert snaps[s3]["parent-snapshot-id"] == s2
    assert [snaps[s]["sequence-number"] for s in (s1, s2, s3)] == [1, 2, 3]


def test_append_schema_mismatch_and_gates(spark, tmp_path):
    t = str(tmp_path / "gates")
    write_iceberg(_df(spark, [(1, "a")]), t)
    with pytest.raises(IcebergWriteError, match="schema mismatch"):
        write_iceberg(
            spark.createDataFrame([(1, 2.0)], ["id", "v"]), t,
            mode="append",
        )
    # unsupported column type gates loudly before any file lands
    with pytest.raises(IcebergProtocolError, match="not supported"):
        write_iceberg(
            spark.createDataFrame(
                [(1, {"k": "v"})], "id long, m map<string,string>"
            ),
            str(tmp_path / "maps"),
        )
    # an existing table's partition spec must match partition_by
    meta_dir = os.path.join(t, "metadata")
    with open(os.path.join(meta_dir, "v1.metadata.json")) as fh:
        meta = json.load(fh)
    meta["partition-specs"] = [{
        "spec-id": 0,
        "fields": [{"name": "v", "transform": "identity",
                    "source-id": 2, "field-id": 1000}],
    }]
    with open(os.path.join(meta_dir, "v2.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(IcebergWriteError, match="does not match"):
        write_iceberg(_df(spark, [(5, "e")]), t, mode="append")
    # non-identity transforms stay on the connector
    meta["partition-specs"][0]["fields"][0]["transform"] = "bucket[4]"
    with open(os.path.join(meta_dir, "v3.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(IcebergProtocolError, match="transform"):
        write_iceberg(_df(spark, [(5, "e")]), t, mode="append",
                      partition_by=["v"])


def test_overwrite_schema_change_gets_new_schema_id(spark, tmp_path):
    t = str(tmp_path / "evolve")
    write_iceberg(_df(spark, [(1, "a")]), t)
    write_iceberg(
        spark.createDataFrame([(2, 3.5)], ["id", "score"]), t,
        mode="overwrite",
    )
    got = {(r["id"], r["score"]) for r in read_iceberg(spark, t).collect()}
    assert got == {(2, 3.5)}
    snap = iceberg_snapshot(t)
    sids = {s.get("schema-id") for s in snap["metadata"]["schemas"]}
    assert len(sids) == 2  # old schema retained for time travel


def test_commit_base_ignores_stale_version_hint(spark, tmp_path):
    """A racing writer can leave version-hint.text behind the real
    max; the next commit must base on the MAX metadata version or it
    would try to re-claim a taken version forever."""
    t = str(tmp_path / "stale")
    write_iceberg(_df(spark, [(1, "a")]), t)           # v1
    write_iceberg(_df(spark, [(2, "b")]), t, mode="append")  # v2
    hint = os.path.join(t, "metadata", "version-hint.text")
    with open(hint, "w") as fh:
        fh.write("1")  # regress the hint
    write_iceberg(_df(spark, [(3, "c")]), t, mode="append")  # must land v3
    assert os.path.exists(
        os.path.join(t, "metadata", "v3.metadata.json")
    )
    with open(hint) as fh:
        assert fh.read().strip() == "3"
    # all five rows live: the v2 commit was NOT clobbered
    assert _rows(read_iceberg(spark, t)) == {(1, "a"), (2, "b"), (3, "c")}


def test_list_of_float_roundtrip(spark, tmp_path):
    """The embeddings-table shape: array<float> columns are in scope
    (element-id assigned past the top-level block)."""
    t = str(tmp_path / "vecs")
    df = spark.createDataFrame(
        [(1, [0.5, 1.5]), (2, [2.5, 3.5])], "id long, emb array<float>"
    )
    write_iceberg(df, t)
    got = {(r["id"], tuple(r["emb"]))
           for r in read_iceberg(spark, t).collect()}
    assert got == {(1, (0.5, 1.5)), (2, (2.5, 3.5))}
    snap = iceberg_snapshot(t)
    fields = snap["metadata"]["schemas"][0]["fields"]
    emb = next(f for f in fields if f["name"] == "emb")
    assert emb["type"]["element-id"] == 3  # past ids 1, 2


def test_writer_manifests_read_by_java_avro(spark, tmp_path):
    """The writer's manifest + manifest-list Avro (spec field-ids in
    the schema, header metadata, deflate) must be readable by the REAL
    Java Avro library bundled with Spark — the cross-validation
    discipline every hand-rolled codec artifact here earns trust by."""
    import glob

    t = str(tmp_path / "xval")
    write_iceberg(_df(spark, [(1, "a"), (2, "b")]), t)
    jvm = spark.sparkContext._jvm
    avros = glob.glob(os.path.join(t, "metadata", "*.avro"))
    assert len(avros) == 2  # one manifest + one manifest list
    for p in avros:
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(p),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        n = 0
        while reader.hasNext():
            rec = reader.next()
            n += 1
        assert n >= 1
        name = reader.getSchema().getName()
        assert name in ("manifest_entry", "manifest_file")
        if name == "manifest_entry":
            assert reader.getMetaString("content") == "data"
            # the spec requires the iceberg schema in the header
            json.loads(reader.getMetaString("schema"))
        reader.close()


def test_merge_iceberg_upsert_semantics_and_history(spark, tmp_path):
    """S12 Iceberg twin of merge_delta: matched keys update, unmatched
    insert, untouched rows survive; the pre-merge state stays
    time-travelable; a concurrent commit between read and write
    raises instead of silently dropping the winner's rows."""
    from embeddinghub_spark.sources.iceberg_write import merge_iceberg

    t = str(tmp_path / "merge")
    s1 = write_iceberg(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), t)
    src = _df(spark, [(2, "B2"), (9, "NEW")])
    s2 = merge_iceberg(spark, t, src, ["id"])
    assert _rows(read_iceberg(spark, t)) == {
        (1, "a"), (2, "B2"), (3, "c"), (9, "NEW")
    }
    assert _rows(read_iceberg(spark, t, snapshot_id=s1)) == {
        (1, "a"), (2, "b"), (3, "c")
    }
    assert s2 != s1

    # read-modify-write race: pin to a stale snapshot -> loud
    with pytest.raises(IcebergWriteError, match="advanced"):
        write_iceberg(
            _df(spark, [(7, "x")]), t, mode="overwrite",
            expected_snapshot_id=s1,
        )


def test_read_iceberg_changes_over_merge_and_overwrite(spark, tmp_path):
    """The changelog fallback (read_iceberg_changes): updates emit
    both images, inserts and deletes their single row, unchanged rows
    nothing; contract raises on a non-ancestor from-snapshot and on
    merge-on-read delete files in the range."""
    from embeddinghub_spark.sources.iceberg_meta import (
        read_iceberg_changes,
    )
    from embeddinghub_spark.sources.iceberg_write import merge_iceberg

    t = str(tmp_path / "cdf")
    s1 = write_iceberg(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), t)
    s2 = merge_iceberg(spark, t, _df(spark, [(2, "B2"), (9, "NEW")]),
                       ["id"])
    s3 = write_iceberg(  # drop id=3
        read_iceberg(spark, t).filter("id != 3"), t, mode="overwrite"
    )
    got = {
        (r["id"], r["v"], r["_change_type"], r["_snapshot_id"])
        for r in read_iceberg_changes(
            spark, t, s1, key_cols=["id"]
        ).collect()
    }
    assert got == {
        (2, "b", "update_preimage", s2),
        (2, "B2", "update_postimage", s2),
        (9, "NEW", "insert", s2),
        (3, "c", "delete", s3),
    }
    # empty range
    assert read_iceberg_changes(spark, t, s3, key_cols=["id"]).count() == 0
    # unknown / non-ancestor from-snapshot is loud
    with pytest.raises(ValueError, match="not in"):
        read_iceberg_changes(spark, t, 999999, key_cols=["id"])
    with pytest.raises(ValueError, match="key column"):
        read_iceberg_changes(spark, t, s1, key_cols=["nope"])


def test_partitioned_write_read_roundtrip_and_pruning(spark, tmp_path):
    """Identity-partitioned write + read: the hive staging strips the
    partition source column from the data files, the manifest entries
    carry it as a TYPED partition value, and read_iceberg attaches it
    back per the spec's column projection rule. partition_filter
    prunes at the MANIFEST level — the scan's inputFiles drop to the
    matching partition's files — while row semantics stay exact."""
    from embeddinghub_spark.sources.iceberg_meta import iceberg_snapshot

    t = str(tmp_path / "ptbl")
    df = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "en"), (3, "c", "fr"), (4, "d", None)],
        "id long, v string, lang string",
    )
    write_iceberg(df, t, partition_by=["lang"])
    got = {(r["id"], r["v"], r["lang"])
           for r in read_iceberg(spark, t).collect()}
    assert got == {(1, "a", "en"), (2, "b", "en"), (3, "c", "fr"),
                   (4, "d", None)}
    # typed partition values recorded per file
    snap = iceberg_snapshot(t)
    parts = {pv["lang"] for _, pv in
             (v for v in snap["file_partitions"].values())}
    assert parts == {"en", "fr", None}
    # manifest-level pruning: only the matching partition's files scan
    full = read_iceberg(spark, t)
    pruned = read_iceberg(spark, t, partition_filter={"lang": "en"})
    assert {(r["id"], r["v"]) for r in pruned.collect()} == {
        (1, "a"), (2, "b")
    }
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # null partition filters match the null partition only
    nulls = read_iceberg(spark, t, partition_filter={"lang": None})
    assert {r["id"] for r in nulls.collect()} == {4}
    # unknown filter column is loud
    with pytest.raises(ValueError, match="partition_filter column"):
        read_iceberg(spark, t, partition_filter={"nope": 1})


def test_partitioned_append_and_merge_keep_spec(spark, tmp_path):
    """Appends to a partitioned table reuse the table's spec (same
    field-ids); merge_iceberg round-trips through the partition
    machinery; mismatched partition_by raises."""
    from embeddinghub_spark.sources.iceberg_write import merge_iceberg

    t = str(tmp_path / "ptbl2")
    df = spark.createDataFrame(
        [(1, 10, "x")], "id long, bucket int, v string"
    )
    write_iceberg(df, t, partition_by=["bucket"])
    write_iceberg(
        spark.createDataFrame([(2, 20, "y")],
                              "id long, bucket int, v string"),
        t, mode="append", partition_by=["bucket"],
    )
    got = {(r["id"], r["bucket"], r["v"])
           for r in read_iceberg(spark, t).collect()}
    assert got == {(1, 10, "x"), (2, 20, "y")}
    with pytest.raises(IcebergWriteError, match="does not match"):
        write_iceberg(
            spark.createDataFrame([(3, 30, "z")],
                                  "id long, bucket int, v string"),
            t, mode="append",
        )
    # typed int partition values pruned correctly
    only20 = read_iceberg(spark, t, partition_filter={"bucket": 20})
    assert {r["id"] for r in only20.collect()} == {2}
    assert len(only20.inputFiles()) == 1

    # merge_iceberg derives partition_by from the table's identity
    # spec (ADVICE r14: defaulting to [] raised on every partitioned
    # table, after staging orphans): update id=1, insert id=3
    src = spark.createDataFrame(
        [(1, 10, "x2"), (3, 30, "z")], "id long, bucket int, v string"
    )
    merge_iceberg(spark, t, src, key_cols=["id"])
    got = {(r["id"], r["bucket"], r["v"])
           for r in read_iceberg(spark, t).collect()}
    assert got == {(1, 10, "x2"), (2, 20, "y"), (3, 30, "z")}
    # the merged table keeps the spec: partition pruning still works
    only30 = read_iceberg(spark, t, partition_filter={"bucket": 30})
    assert {r["id"] for r in only30.collect()} == {3}
    assert len(only30.inputFiles()) == 1


def test_overwrite_field_ids_are_permanent(spark, tmp_path):
    """ADVICE r14: overwrite used to reassign field-ids 1..N from the
    fresh DataFrame while reusing the table's partition spec verbatim,
    so a REORDERED overwrite silently repointed the spec's source-ids
    at the wrong columns (partition values attached under the wrong
    name; partition_filter went empty/wrong). Field-ids are permanent
    per the spec: a known column name keeps its id across overwrites,
    a new name takes a fresh id above everything the table ever
    issued, and a type change raises."""
    import json as _json

    t = str(tmp_path / "remap")
    df = spark.createDataFrame(
        [(1, 10, "x"), (2, 20, "y")], "id long, bucket int, v string"
    )
    write_iceberg(df, t, partition_by=["bucket"])

    # overwrite with REORDERED columns (bucket now first)
    rdf = spark.createDataFrame(
        [(10, 1, "x2"), (20, 2, "y2"), (30, 3, "z2")],
        "bucket int, id long, v string",
    )
    write_iceberg(rdf, t, mode="overwrite", partition_by=["bucket"])
    meta = iceberg_snapshot(t)["metadata"]
    cur = next(s for s in meta["schemas"]
               if s["schema-id"] == meta["current-schema-id"])
    ids = {f["name"]: f["id"] for f in cur["fields"]}
    assert ids == {"id": 1, "bucket": 2, "v": 3}, (
        "field-ids must survive a column reorder"
    )
    # the spec still points at the real bucket column: pruning works
    only20 = read_iceberg(spark, t, partition_filter={"bucket": 20})
    assert {(r["id"], r["v"]) for r in only20.collect()} == {(2, "y2")}
    assert {r["bucket"] for r in
            read_iceberg(spark, t).collect()} == {10, 20, 30}

    # a NEW column takes an id above everything ever issued
    ndf = spark.createDataFrame(
        [(1, 10, "x3", 0.5)], "id long, bucket int, v string, w double"
    )
    write_iceberg(ndf, t, mode="overwrite", partition_by=["bucket"])
    meta2 = iceberg_snapshot(t)["metadata"]
    cur2 = next(s for s in meta2["schemas"]
                if s["schema-id"] == meta2["current-schema-id"])
    ids2 = {f["name"]: f["id"] for f in cur2["fields"]}
    assert ids2["id"] == 1 and ids2["bucket"] == 2 and ids2["v"] == 3
    assert ids2["w"] == 4
    assert int(meta2["last-column-id"]) >= 4
    # ids are unique across ALL schema versions
    for s in meta2["schemas"]:
        by_id: dict[int, str] = {}
        for f in s["fields"]:
            assert f["id"] not in by_id
            by_id[f["id"]] = f["name"]
    # the name mapping published for the new schema carries stable ids
    nm = _json.loads(meta2["properties"]["schema.name-mapping.default"])
    assert {m["names"][0]: m["field-id"] for m in nm} == ids2

    # a TYPE change on a known name must raise, not mint a new id
    bad = spark.createDataFrame(
        [("1", 10, "x")], "id string, bucket int, v string"
    )
    with pytest.raises(IcebergWriteError, match="type"):
        write_iceberg(bad, t, mode="overwrite", partition_by=["bucket"])


def test_partition_empty_string_and_bad_type_gates(spark, tmp_path):
    with pytest.raises(ValueError, match="empty-string"):
        write_iceberg(
            spark.createDataFrame([(1, "")], "id long, v string"),
            str(tmp_path / "es"), partition_by=["v"],
        )
    with pytest.raises(IcebergProtocolError, match="partition column"):
        write_iceberg(
            spark.createDataFrame([(1, 0.5)], "id long, score double"),
            str(tmp_path / "dbl"), partition_by=["score"],
        )


def test_column_bounds_written_and_range_pruned(spark, tmp_path):
    """The writer emits lower/upper bounds (spec single-value
    serialization; numeric AND string columns — strings truncate at
    16 code points per the spec's truncate(16) metrics default, r16)
    from the parquet row-group stats; read_iceberg(range_filter=...)
    prunes files whose bounds provably miss the range — the other
    half of Iceberg scan planning — while the Spark-side BETWEEN
    keeps semantics exact."""
    from embeddinghub_spark.sources.iceberg_meta import iceberg_snapshot

    t = str(tmp_path / "btbl")
    # two appends -> two files with disjoint id ranges
    write_iceberg(
        spark.createDataFrame([(i, "lo") for i in range(10)],
                              "id long, v string").coalesce(1), t)
    write_iceberg(
        spark.createDataFrame([(i, "hi") for i in range(100, 110)],
                              "id long, v string").coalesce(1),
        t, mode="append")
    snap = iceberg_snapshot(t)
    bs = snap["file_bounds"]
    assert len(bs) == 2
    ranges = sorted((b["id"][0], b["id"][1]) for b in bs.values())
    assert ranges == [(0, 9), (100, 109)]
    # string bounds recorded too (VERDICT r15 #2) and round-trip
    # through the manifest's UTF-8 encoding
    vranges = sorted((b["v"][0], b["v"][1]) for b in bs.values())
    assert vranges == [("hi", "hi"), ("lo", "lo")]
    # ...and prune: only the "lo" file can hold v in [l, m]
    sv = read_iceberg(spark, t, range_filter={"v": ("l", "m")})
    assert {r["id"] for r in sv.collect()} == set(range(10))
    assert len(sv.inputFiles()) == 1

    full = read_iceberg(spark, t)
    lo = read_iceberg(spark, t, range_filter={"id": (None, 50)})
    assert {r["id"] for r in lo.collect()} == set(range(10))
    assert len(lo.inputFiles()) < len(full.inputFiles())
    # a range straddling both files prunes nothing but filters exactly
    mid = read_iceberg(spark, t, range_filter={"id": (5, 105)})
    assert {r["id"] for r in mid.collect()} == set(range(5, 10)) | set(
        range(100, 106)
    )
    with pytest.raises(ValueError, match="unbounded"):
        read_iceberg(spark, t, range_filter={"id": (None, None)})
    with pytest.raises(ValueError, match="range_filter column"):
        read_iceberg(spark, t, range_filter={"nope": (0, 1)})


def test_expire_iceberg_snapshots(spark, tmp_path):
    """expireSnapshots contract: all but the newest keep_last
    snapshots leave the metadata (time travel to them raises by
    construction), and the manifests/manifest-lists/data files only
    expired snapshots referenced are deleted — shared files survive."""
    from embeddinghub_spark.sources.iceberg_write import (
        expire_iceberg_snapshots,
    )

    t = str(tmp_path / "exp")
    s1 = write_iceberg(_df(spark, [(1, "a")]), t)
    s2 = write_iceberg(_df(spark, [(2, "b")]), t, mode="append")
    s3 = write_iceberg(_df(spark, [(9, "z")]), t, mode="overwrite")
    # dry run reports, deletes nothing
    rep = expire_iceberg_snapshots(t, keep_last=1, dry_run=True)
    assert rep["expired"] == sorted([s1, s2])
    assert all(os.path.exists(p) for p in rep["deleted"])
    rep2 = expire_iceberg_snapshots(t, keep_last=1)
    assert rep2["expired"] == sorted([s1, s2])
    assert rep2["deleted"] and all(
        not os.path.exists(p) for p in rep2["deleted"]
    )
    # current snapshot fully intact
    assert _rows(read_iceberg(spark, t)) == {(9, "z")}
    # expired snapshots are gone from the metadata: time travel raises
    with pytest.raises(ValueError, match="not in"):
        read_iceberg(spark, t, snapshot_id=s1)
    # nothing further to expire
    assert expire_iceberg_snapshots(t, keep_last=1) == {
        "expired": [], "deleted": []
    }
    with pytest.raises(ValueError, match="keep_last"):
        expire_iceberg_snapshots(t, keep_last=0)


def test_remove_orphan_iceberg_files(spark, tmp_path):
    """removeOrphanFiles: a data file referenced by NO snapshot (lost
    race, crashed writer) goes once it ages past retention; files any
    snapshot references — current or historical — survive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from embeddinghub_spark.sources.iceberg_write import (
        remove_orphan_iceberg_files,
    )

    t = str(tmp_path / "orph")
    s1 = write_iceberg(_df(spark, [(1, "a")]), t)
    write_iceberg(_df(spark, [(9, "z")]), t, mode="overwrite")
    orphan = os.path.join(t, "data", "leftover.parquet")
    pq.write_table(pa.table({"id": pa.array([7], pa.int64()),
                             "v": pa.array(["x"], pa.string())}), orphan)
    now = 10_000_000_000_000
    # young orphan survives retention
    assert remove_orphan_iceberg_files(t, now_ms=now,
                                       retain_ms=now * 2) == []
    rep = remove_orphan_iceberg_files(t, now_ms=now, retain_ms=0,
                                      dry_run=True)
    assert rep == [os.path.realpath(orphan)]
    assert os.path.exists(orphan)
    gone = remove_orphan_iceberg_files(t, now_ms=now, retain_ms=0)
    assert gone == rep and not os.path.exists(orphan)
    # every snapshot still reads, incl. the historical one
    assert _rows(read_iceberg(spark, t)) == {(9, "z")}
    assert _rows(read_iceberg(spark, t, snapshot_id=s1)) == {(1, "a")}


def test_review_r14_fixes(spark, tmp_path):
    """Pins for the r14 adversarial-review findings."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from embeddinghub_spark.sources.iceberg_meta import iceberg_snapshot
    from embeddinghub_spark.sources.iceberg_write import (
        expire_iceberg_snapshots,
        remove_orphan_iceberg_files,
    )

    # (1) partition_filter with a representation-mismatched value must
    # NOT wrong-prune: _prunable_pair refuses the comparison (avro
    # logical types decode to raw base types — a date partition reads
    # back as int days, and int != date would have pruned EVERY file),
    # while same-kind primitives still prune; numerically-equal
    # int/float filters stay exact end-to-end
    import datetime as _dt

    from embeddinghub_spark.sources.iceberg_meta import _prunable_pair

    assert _prunable_pair(19723, _dt.date(2024, 1, 1)) is False
    assert _prunable_pair(b"\x01", 1) is False
    assert _prunable_pair(True, 1) is False
    assert _prunable_pair(5, 7) is True
    assert _prunable_pair("en", "fr") is True
    assert _prunable_pair(None, "x") is True
    t = str(tmp_path / "typed")
    df = spark.createDataFrame(
        [(1, 10, "x"), (2, 20, "y")], "id long, bucket int, v string"
    )
    write_iceberg(df, t, partition_by=["bucket"])
    got = read_iceberg(spark, t, partition_filter={"bucket": 20.0})
    assert {r["id"] for r in got.collect()} == {2}

    # (2) nullable DataFrame column must not append into a REQUIRED
    # table column
    t2 = str(tmp_path / "req")
    req_schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ])
    write_iceberg(spark.createDataFrame([(1, "a")], req_schema), t2)
    with pytest.raises(IcebergWriteError, match="REQUIRED"):
        write_iceberg(
            spark.createDataFrame([(2, "b")], "id long, v string"),
            t2, mode="append",
        )

    # (3) a stale version hint must not serve an old snapshot to
    # READERS (the writer already ignored it)
    t3 = str(tmp_path / "stalehint")
    write_iceberg(_df(spark, [(1, "a")]), t3)
    write_iceberg(_df(spark, [(2, "b")]), t3, mode="append")
    with open(os.path.join(t3, "metadata", "version-hint.text"),
              "w") as fh:
        fh.write("1")
    assert _rows(read_iceberg(spark, t3)) == {(1, "a"), (2, "b")}

    # (4) commits keep refs PARSEABLE by Iceberg's TableMetadata
    # reader (ADVICE r14): refs.main must advance with
    # current-snapshot-id (a stale main bricks the table for the
    # Java/PyIceberg side), other refs (tags) pass through verbatim,
    # the snapshot-log stays accurate, and expire (a) prunes the log
    # entries of expired snapshots while (b) PROTECTING snapshots a
    # tag still references — the connector's expireSnapshots contract
    t4 = str(tmp_path / "meta")
    s1 = write_iceberg(_df(spark, [(1, "a")]), t4)
    m1 = os.path.join(t4, "metadata", "v1.metadata.json")
    with open(m1) as fh:
        meta = json.load(fh)
    meta["refs"] = {
        "main": {"snapshot-id": s1, "type": "branch"},
        "v1-tag": {"snapshot-id": s1, "type": "tag"},
    }
    with open(m1, "w") as fh:
        json.dump(meta, fh)
    s2 = write_iceberg(_df(spark, [(2, "b")]), t4, mode="append")
    meta2 = iceberg_snapshot(t4)["metadata"]
    assert meta2["refs"]["main"]["snapshot-id"] == s2
    assert meta2["refs"]["v1-tag"]["snapshot-id"] == s1
    assert [e["snapshot-id"] for e in meta2["snapshot-log"]][-1] == s2
    s3 = write_iceberg(_df(spark, [(3, "c")]), t4, mode="append")
    expire_iceberg_snapshots(t4, keep_last=1)
    meta3 = iceberg_snapshot(t4)["metadata"]
    assert {e["snapshot-id"] for e in meta3.get("snapshot-log") or []} \
        <= {s1, s3}
    kept = {s["snapshot-id"] for s in meta3["snapshots"]}
    assert kept == {s1, s3}, "tagged snapshot must survive expire"
    assert meta3["refs"]["v1-tag"]["snapshot-id"] == s1
    assert meta3["refs"]["main"]["snapshot-id"] == s3
    # s1 stays time-travelable through the protecting tag
    assert _rows(read_iceberg(spark, t4, snapshot_id=s1)) == {(1, "a")}

    # (5) orphan cleanup removes a crashed writer's _staging_ dir
    stage = os.path.join(t4, "_staging_deadbeef")
    os.makedirs(stage)
    leftover = os.path.join(stage, "part-0.parquet")
    pq.write_table(pa.table({"id": pa.array([7], pa.int64()),
                             "v": pa.array(["x"], pa.string())}),
                   leftover)
    now = 10_000_000_000_000
    gone = remove_orphan_iceberg_files(t4, now_ms=now, retain_ms=0)
    assert os.path.realpath(leftover) in gone
    assert not os.path.isdir(stage)

    # (6) the snapshot-less early return carries the FULL shape
    t5 = str(tmp_path / "empty")
    os.makedirs(os.path.join(t5, "metadata"))
    with open(os.path.join(t5, "metadata", "v1.metadata.json"),
              "w") as fh:
        json.dump({
            "format-version": 2, "table-uuid": "u",
            "location": f"file://{t5}",
            "schemas": [{"type": "struct", "schema-id": 0, "fields": [
                {"id": 1, "name": "id", "required": False,
                 "type": "long"}]}],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "current-snapshot-id": -1, "snapshots": [],
        }, fh)
    snap = iceberg_snapshot(t5)
    for key in ("files", "file_seqs", "file_partitions", "file_bounds",
                "position_deletes", "equality_deletes", "spec_fields"):
        assert key in snap, key


def test_merge_iceberg_is_file_pruned(spark, tmp_path):
    """VERDICT r14 #3, Iceberg side: a small-churn MERGE rewrites only
    the files that actually contain a source key; every other file
    carries forward as an EXISTING manifest entry with its ORIGINAL
    sequence number (no data bytes rewritten), the result is identical
    to a full rebuild, and time travel to the pre-merge snapshot still
    serves the old state."""
    from embeddinghub_spark.sources.iceberg_write import merge_iceberg

    t = str(tmp_path / "prunedice")
    base = spark.range(0, 2000).selectExpr(
        "id", "concat('v', id) AS v"
    ).repartitionByRange(20, "id")
    write_iceberg(base, t)
    before = iceberg_snapshot(t)
    assert len(before["files"]) == 20
    tbl_bytes = sum(before["file_sizes"].values())

    src = spark.createDataFrame(
        [(5, "UP5"), (1998, "UP1998"), (5000, "NEW")], "id long, v string"
    )
    sid = merge_iceberg(spark, t, src, key_cols=["id"])
    after = iceberg_snapshot(t)
    assert after["snapshot_id"] == sid

    before_paths = set(before["files"])
    after_paths = set(after["files"])
    removed = before_paths - after_paths
    added = sorted(after_paths - before_paths)
    carried = before_paths & after_paths
    # ids 5 and 1998 live in one range-partitioned file each
    assert 1 <= len(removed) <= 2, removed
    assert len(carried) >= 18, "untouched files must carry forward"
    # carried files keep their ORIGINAL sequence numbers
    for f in carried:
        assert after["file_seqs"][f] == before["file_seqs"][f]
    # and their manifest column bounds survive the re-encode
    for f in carried:
        if before["file_bounds"].get(f):
            assert after["file_bounds"].get(f), f
    added_bytes = sum(after["file_sizes"][f] for f in added)
    assert added_bytes <= 0.3 * tbl_bytes, (added_bytes, tbl_bytes)

    # result ≡ full rebuild
    got = _rows(read_iceberg(spark, t))
    expect = {(i, f"v{i}") for i in range(2000) if i not in (5, 1998)}
    expect |= {(5, "UP5"), (1998, "UP1998"), (5000, "NEW")}
    assert got == expect
    # pre-merge snapshot still time-travelable
    old = _rows(read_iceberg(spark, t,
                             snapshot_id=before["snapshot_id"]))
    assert old == {(i, f"v{i}") for i in range(2000)}
    # insert-only merge: zero data files rewritten
    src2 = spark.createDataFrame([(7777, "NEW2")], "id long, v string")
    merge_iceberg(spark, t, src2, key_cols=["id"])
    after2 = iceberg_snapshot(t)
    assert after_paths <= set(after2["files"]), (
        "insert-only merge must not rewrite any live file"
    )


def test_carry_files_gates(spark, tmp_path):
    """carry_files contracts (review r15 + ADVICE r15): overwrite-only,
    requires expected_snapshot_id (an unpinned carry computed from a
    stale snapshot could re-reference files a concurrent writer
    removed — write_delta's replace_paths has the same guard), table
    must exist, and the DataFrame schema must match the current schema
    by name+type — a changed schema would silently read carried files
    as NULLs for renamed columns."""
    from embeddinghub_spark.sources.iceberg_meta import iceberg_snapshot
    from embeddinghub_spark.sources.iceberg_write import write_iceberg

    with pytest.raises(ValueError, match="mode='overwrite'"):
        write_iceberg(_df(spark, [(1, "a")]), str(tmp_path / "x"),
                      carry_files=[])
    # ADVICE r15: carry without the optimistic-concurrency pin raises
    with pytest.raises(ValueError, match="expected_snapshot_id"):
        write_iceberg(_df(spark, [(1, "a")]), str(tmp_path / "x"),
                      mode="overwrite", carry_files=[])
    t = str(tmp_path / "c")
    write_iceberg(_df(spark, [(1, "a")]), t)
    sid = iceberg_snapshot(t)["snapshot_id"]
    # a carry against a nonexistent table can never satisfy its pin:
    # the snapshot check fires before the exists check (the explicit
    # "does not exist" gate remains as defense in depth)
    with pytest.raises(IcebergWriteError, match="table advanced"):
        write_iceberg(_df(spark, [(1, "a")]), str(tmp_path / "y"),
                      mode="overwrite", carry_files=[],
                      expected_snapshot_id=sid)
    with pytest.raises(IcebergWriteError, match="carry_files requires"):
        write_iceberg(
            spark.createDataFrame([(1, 2.0)], ["id", "score"]), t,
            mode="overwrite", carry_files=[], expected_snapshot_id=sid,
        )
    # matching schema with empty carry == plain overwrite, still fine
    write_iceberg(_df(spark, [(9, "z")]), t, mode="overwrite",
                  carry_files=[], expected_snapshot_id=sid)
    assert _rows(read_iceberg(spark, t)) == {(9, "z")}


def test_compact_iceberg_rewrites_small_files(spark, tmp_path):
    """rewriteDataFiles (r15): small files bin-pack into one snapshot;
    the large file carries forward as an EXISTING entry with its
    ORIGINAL sequence number; rows identical; sort_by yields pairwise
    DISJOINT manifest id bounds on the rewritten files; a second
    compact is a no-op."""
    from embeddinghub_spark.sources.iceberg_write import compact_iceberg

    t = str(tmp_path / "rewr")
    write_iceberg(
        spark.range(0, 200).selectExpr("id", "concat('v', id) AS v")
        .repartition(10),
        t,
    )
    write_iceberg(
        spark.range(200, 5200).selectExpr("id", "concat('v', id) AS v")
        .repartition(1),
        t, mode="append",
    )
    before = iceberg_snapshot(t)
    assert len(before["files"]) == 11
    big = max(before["files"], key=lambda f: before["file_sizes"][f])
    big_size = before["file_sizes"][big]

    sid = compact_iceberg(spark, t, target_file_bytes=big_size,
                          sort_by=["id"])
    after = iceberg_snapshot(t)
    assert after["snapshot_id"] == sid
    assert big in after["files"], "large file must carry forward"
    assert after["file_seqs"][big] == before["file_seqs"][big]
    assert len(after["files"]) < 11
    got = {r["id"] for r in read_iceberg(spark, t).collect()}
    assert got == set(range(5200))
    # the rewritten files' id bounds are pairwise disjoint
    new_files = [f for f in after["files"] if f not in set(before["files"])]
    spans = sorted(
        tuple(after["file_bounds"][f]["id"]) for f in new_files
        if "id" in (after["file_bounds"].get(f) or {})
    )
    assert len(spans) == len(new_files) >= 1
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, f"overlapping bounds {spans}"
    # pre-compaction snapshot still time-travels
    assert read_iceberg(
        spark, t, snapshot_id=before["snapshot_id"]
    ).count() == 5200
    # nothing left to do (one small rewritten file + the big one)
    if len(new_files) == 1:
        assert compact_iceberg(
            spark, t, target_file_bytes=big_size
        ) is None


def test_write_iceberg_merge_schema_evolution(spark, tmp_path):
    """merge_schema=True (r15): appending a NEW nullable column
    evolves the schema spec-correctly — the new column takes a FRESH
    field-id above everything ever issued, a new schema version lands
    with current-schema-id advanced, the name mapping republishes,
    and old files read the column as NULL. Omitting nullable columns
    is fine; type clashes and non-nullable additions raise; the
    strict default still raises."""
    from embeddinghub_spark.sources.iceberg_write import write_iceberg

    t = str(tmp_path / "ievo")
    write_iceberg(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        t,
    )
    wide = spark.createDataFrame(
        [(3, "c", 0.5)], "id long, v string, score double"
    )
    with pytest.raises(IcebergWriteError, match="schema mismatch"):
        write_iceberg(wide, t, mode="append")
    write_iceberg(wide, t, mode="append", merge_schema=True)
    out = read_iceberg(spark, t)
    assert [f.name for f in out.schema.fields] == ["id", "v", "score"]
    got = {(r["id"], r["v"], r["score"]) for r in out.collect()}
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 0.5)}
    meta = iceberg_snapshot(t)["metadata"]
    cur = next(s for s in meta["schemas"]
               if s["schema-id"] == meta["current-schema-id"])
    ids = {f["name"]: f["id"] for f in cur["fields"]}
    assert ids == {"id": 1, "v": 2, "score": 3}
    assert len(meta["schemas"]) == 2, "old schema retained"
    assert int(meta["last-column-id"]) >= 3
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    assert {m["names"][0]: m["field-id"] for m in nm} == ids
    # omitting a nullable column reads as NULL
    write_iceberg(
        spark.createDataFrame([(4, 1.5)], "id long, score double"),
        t, mode="append", merge_schema=True,
    )
    got2 = {(r["id"], r["v"], r["score"])
            for r in read_iceberg(spark, t).collect()}
    assert (4, None, 1.5) in got2 and len(got2) == 4
    # no NEW schema version for the omission append (ids unchanged)
    meta2 = iceberg_snapshot(t)["metadata"]
    assert len(meta2["schemas"]) == 2
    # type clash raises
    with pytest.raises(IcebergWriteError, match="type mismatch"):
        write_iceberg(
            spark.createDataFrame([("x", "y")], "id string, v string"),
            t, mode="append", merge_schema=True,
        )


def test_delete_update_iceberg_file_pruned(spark, tmp_path):
    """Iceberg row-level DELETE/UPDATE (r15): touched files rewrite,
    untouched files carry forward as EXISTING entries with original
    sequence numbers, assignments see PRE-update values, no-match ops
    return None, and partition-column updates raise."""
    from pyspark.sql import functions as F

    from embeddinghub_spark.sources.iceberg_write import (
        delete_iceberg,
        update_iceberg,
    )

    t = str(tmp_path / "idml")
    write_iceberg(
        spark.range(0, 2000).selectExpr(
            "id", "concat('v', id) AS v", "CAST(id % 7 AS DOUBLE) AS w"
        ).repartitionByRange(20, "id"),
        t,
    )
    before = iceberg_snapshot(t)
    assert len(before["files"]) == 20

    sid = delete_iceberg(spark, t, "id IN (5, 1998)",
                         range_filter={"id": (5, 1998)})
    after = iceberg_snapshot(t)
    assert after["snapshot_id"] == sid
    carried = set(before["files"]) & set(after["files"])
    assert len(carried) >= 18
    for f in carried:
        assert after["file_seqs"][f] == before["file_seqs"][f]
    got = {r["id"] for r in read_iceberg(spark, t).collect()}
    assert got == set(range(2000)) - {5, 1998}

    sid2 = update_iceberg(
        spark, t, "id % 500 = 0",
        {"v": "concat('w=', CAST(w AS STRING))", "w": F.col("w") * 2},
    )
    assert sid2 is not None
    rows = {r["id"]: (r["v"], r["w"])
            for r in read_iceberg(spark, t).collect()}
    assert rows[500] == ("w=3.0", 6.0)
    assert rows[0] == ("w=0.0", 0.0)
    assert rows[501] == ("v501", 4.0)
    # pre-DML snapshot still time-travels complete
    assert read_iceberg(
        spark, t, snapshot_id=before["snapshot_id"]
    ).count() == 2000
    # no-match is a no-op
    assert delete_iceberg(spark, t, "id = -1") is None
    assert iceberg_snapshot(t)["snapshot_id"] == sid2
    with pytest.raises(ValueError, match="unknown columns"):
        update_iceberg(spark, t, "id = 1", {"nope": F.lit(1)})

    # partitioned table: partition-column update raises; delete works
    t2 = str(tmp_path / "idmlp")
    write_iceberg(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 10, "c")],
            "id long, bucket int, v string",
        ),
        t2, partition_by=["bucket"],
    )
    with pytest.raises(ValueError, match="partition columns"):
        update_iceberg(spark, t2, "id = 1", {"bucket": F.lit(99)})
    delete_iceberg(spark, t2, "id = 3")
    left = {(r["id"], r["bucket"]) for r in read_iceberg(spark, t2).collect()}
    assert left == {(1, 10), (2, 20)}
    only10 = read_iceberg(spark, t2, partition_filter={"bucket": 10})
    assert {r["id"] for r in only10.collect()} == {1}


def test_iceberg_refs_tag_branch_lifecycle(spark, tmp_path):
    """Refs API (r15): create_iceberg_ref pins a snapshot behind a
    name, read_iceberg(ref=…) time-travels by name, expire PROTECTS
    the tagged snapshot, drop releases it, and the reserved 'main'
    name is immutable through this API."""
    from embeddinghub_spark.sources.iceberg_write import (
        create_iceberg_ref,
        drop_iceberg_ref,
        expire_iceberg_snapshots,
    )

    t = str(tmp_path / "refs")
    s1 = write_iceberg(_df(spark, [(1, "a")]), t)
    create_iceberg_ref(t, "v1-release")          # tag current (s1)
    s2 = write_iceberg(_df(spark, [(2, "b")]), t, mode="append")
    s3 = write_iceberg(_df(spark, [(9, "z")]), t, mode="overwrite")

    # by-name time travel (read_iceberg AND the read_file dispatch —
    # the connector's branch/tag read options)
    assert _rows(read_iceberg(spark, t, ref="v1-release")) == {(1, "a")}
    from embeddinghub_spark.sources.readers import read_file

    assert _rows(read_file(spark, t, "iceberg", tag="v1-release")) == {
        (1, "a")
    }
    assert _rows(read_iceberg(spark, t)) == {(9, "z")}
    with pytest.raises(ValueError, match="not in table refs"):
        read_iceberg(spark, t, ref="nope")
    with pytest.raises(ValueError, match="ONE of"):
        read_iceberg(spark, t, snapshot_id=s1, ref="v1-release")

    # branch ref + retarget semantics
    create_iceberg_ref(t, "exp", snapshot_id=s2, ref_type="branch")
    assert _rows(read_iceberg(spark, t, ref="exp")) == {(1, "a"), (2, "b")}
    create_iceberg_ref(t, "exp", snapshot_id=s3, ref_type="branch")
    assert _rows(read_iceberg(spark, t, ref="exp")) == {(9, "z")}

    # expire protects BOTH named refs' snapshots; s2 (unref'd) goes
    expire_iceberg_snapshots(t, keep_last=1)
    kept = {s["snapshot-id"]
            for s in iceberg_snapshot(t)["metadata"]["snapshots"]}
    assert kept == {s1, s3}
    assert _rows(read_iceberg(spark, t, ref="v1-release")) == {(1, "a")}

    # drop releases the pin; the next expire prunes the snapshot
    drop_iceberg_ref(t, "v1-release")
    with pytest.raises(ValueError, match="not in table refs"):
        read_iceberg(spark, t, ref="v1-release")
    expire_iceberg_snapshots(t, keep_last=1)
    kept2 = {s["snapshot-id"]
             for s in iceberg_snapshot(t)["metadata"]["snapshots"]}
    assert kept2 == {s3}

    # guards
    with pytest.raises(ValueError, match="reserved"):
        create_iceberg_ref(t, "main")
    with pytest.raises(ValueError, match="cannot be dropped"):
        drop_iceberg_ref(t, "main")
    with pytest.raises(ValueError, match="not in table"):
        create_iceberg_ref(t, "ghost", snapshot_id=999999)
    with pytest.raises(ValueError, match="tag|branch"):
        create_iceberg_ref(t, "x", ref_type="lease")
    # commits after a ref keep it resolvable and main tracking current
    s4 = write_iceberg(_df(spark, [(5, "e")]), t, mode="append")
    meta = iceberg_snapshot(t)["metadata"]
    assert meta["refs"]["main"]["snapshot-id"] == s4
    assert meta["refs"]["exp"]["snapshot-id"] == s3


def test_snapshot_summary_counters_and_replace_operation(
    spark, tmp_path
):
    """Snapshot summaries carry the spec's standard string-valued
    counters, and compaction commits operation='replace' so readers
    know the data set is unchanged."""
    from embeddinghub_spark.sources.iceberg_write import compact_iceberg

    t = str(tmp_path / "summ")
    write_iceberg(_df(spark, [(1, "a"), (2, "b")]), t)
    meta = iceberg_snapshot(t)["metadata"]
    s = meta["snapshots"][-1]["summary"]
    assert s["operation"] == "append"
    assert s["added-records"] == "2" and s["total-records"] == "2"
    assert int(s["added-data-files"]) >= 1
    assert int(s["added-files-size"]) > 0
    # an APPEND's totals cover the whole snapshot, not just the commit
    write_iceberg(_df(spark, [(3, "c")]), t, mode="append")
    s_app = iceberg_snapshot(t)["metadata"]["snapshots"][-1]["summary"]
    assert s_app["added-records"] == "1"
    assert s_app["total-records"] == "3"

    write_iceberg(
        spark.range(0, 50).selectExpr("id", "concat('v',id) AS v")
        .repartition(5),
        t, mode="overwrite",
    )
    compact_iceberg(spark, t, target_file_bytes=1 << 30)
    meta2 = iceberg_snapshot(t)["metadata"]
    s2 = meta2["snapshots"][-1]["summary"]
    assert s2["operation"] == "replace"
    assert s2["total-records"] == "50"
    with pytest.raises(ValueError, match="operation must be"):
        write_iceberg(_df(spark, [(3, "c")]), t, mode="append",
                      operation="compact")


def test_increment_skips_replace_snapshots(spark, tmp_path):
    """read_iceberg_increment over a range containing a COMPACTION
    (operation=replace) skips it like the connector's
    IncrementalAppendScan: the appended rows report exactly once,
    read from the files as written, even though the compaction
    de-referenced them; a real overwrite in range still raises."""
    from embeddinghub_spark.sources.iceberg_write import compact_iceberg

    t = str(tmp_path / "increp")
    s1 = write_iceberg(
        spark.range(0, 100).selectExpr("id", "concat('v',id) AS v")
        .repartition(4), t,
    )
    s2 = write_iceberg(
        spark.range(100, 150).selectExpr("id", "concat('v',id) AS v")
        .repartition(3), t, mode="append",
    )
    s3 = compact_iceberg(spark, t, target_file_bytes=1 << 30)
    assert s3 is not None
    s4 = write_iceberg(
        spark.range(150, 160).selectExpr("id", "concat('v',id) AS v"),
        t, mode="append",
    )
    inc = read_iceberg_increment(spark, t, s1, s4)
    got = sorted(r["id"] for r in inc.collect())
    assert got == list(range(100, 160))
    # range ending AT the compaction: just the s2 appends
    inc2 = read_iceberg_increment(spark, t, s1, s3)
    assert sorted(r["id"] for r in inc2.collect()) == list(range(100, 150))
    # replace-only range is empty
    assert read_iceberg_increment(spark, t, s2, s3).count() == 0
    # a REAL overwrite in range still raises
    write_iceberg(_df(spark, [(1, "z")]), t, mode="overwrite")
    with pytest.raises(ValueError, match="removed in range"):
        read_iceberg_increment(spark, t, s1)

    # partitioned twin: appended-then-compacted files keep their
    # identity partition values through the merged walk metadata
    t2 = str(tmp_path / "increpp")
    p1 = write_iceberg(
        spark.createDataFrame([(1, 10, "a")],
                              "id long, bucket int, v string"),
        t2, partition_by=["bucket"],
    )
    write_iceberg(
        spark.createDataFrame([(2, 20, "b"), (3, 10, "c")],
                              "id long, bucket int, v string"),
        t2, mode="append", partition_by=["bucket"],
    )
    compact_iceberg(spark, t2, target_file_bytes=1 << 30)
    inc3 = read_iceberg_increment(spark, t2, p1)
    got3 = {(r["id"], r["bucket"], r["v"]) for r in inc3.collect()}
    assert got3 == {(2, 20, "b"), (3, 10, "c")}


def test_carried_files_keep_original_snapshot_id(spark, tmp_path):
    """ADVICE r16: EXISTING manifest entries must carry the data
    file's ORIGINAL adding snapshot id explicitly — a null there
    resolves (v2 inheritance) to the manifest's added_snapshot_id,
    so real engines would attribute carried files to the NEW commit,
    corrupting provenance for metadata/changelog queries."""
    from embeddinghub_spark.sources.avro_io import read_avro_file
    from embeddinghub_spark.sources.iceberg_write import merge_iceberg

    t = str(tmp_path / "prov")
    write_iceberg(
        spark.range(0, 1000).selectExpr("id", "concat('v', id) AS v")
        .repartitionByRange(10, "id"),
        t,
    )
    s1 = iceberg_snapshot(t)
    assert set(s1["file_snapshot_ids"].values()) == {s1["snapshot_id"]}

    src = spark.createDataFrame([(5, "UP")], "id long, v string")
    sid2 = merge_iceberg(spark, t, src, key_cols=["id"])
    s2 = iceberg_snapshot(t)
    carried = set(s1["files"]) & set(s2["files"])
    assert len(carried) >= 8
    # the reader resolves carried files to their ORIGINAL snapshot...
    for f in carried:
        assert s2["file_snapshot_ids"][f] == s1["snapshot_id"], f
    # ...and new files to the new one
    for f in set(s2["files"]) - carried:
        assert s2["file_snapshot_ids"][f] == sid2
    # the EXISTING entries carry it EXPLICITLY in the manifest (not
    # via inheritance): read the raw avro rows of the new snapshot's
    # manifests and check every status-0 entry
    meta = s2["metadata"]
    snap_rec = next(s for s in meta["snapshots"]
                    if s["snapshot-id"] == sid2)
    ml = snap_rec["manifest-list"].replace("file://", "")
    _, mrows = read_avro_file(ml)
    existing = []
    for m in mrows:
        _, entries = read_avro_file(
            m["manifest_path"].replace("file://", "")
        )
        existing += [e for e in entries if int(e.get("status", 0)) == 0]
    assert existing, "merge must produce EXISTING carried entries"
    assert all(e.get("snapshot_id") == s1["snapshot_id"]
               for e in existing)


def test_merge_iceberg_string_key_is_file_pruned(spark, tmp_path):
    """VERDICT r15 #2, Iceberg side: string manifest bounds
    (truncate(16) contract) make a STRING-keyed merge file-pruned —
    stage 1 excludes files whose key bounds miss the source range
    before the exact probe runs."""
    import embeddinghub_spark.sources.iceberg_meta as im
    from embeddinghub_spark.sources.iceberg_write import merge_iceberg

    t = str(tmp_path / "sprune")
    base = spark.range(0, 2000).selectExpr(
        "format_string('k%05d', id) AS k", "concat('v', id) AS v"
    ).repartitionByRange(20, "k")
    write_iceberg(base, t)
    before = iceberg_snapshot(t)
    assert len(before["files"]) == 20
    # every file's manifest carries string bounds for k
    assert all(
        "k" in (before["file_bounds"].get(f) or {})
        for f in before["files"]
    )

    src = spark.createDataFrame(
        [("k00005", "UP5"), ("k00007", "UP7"), ("k00007a", "NEW")],
        "k string, v string",
    )
    probe_sizes = []
    orig = im._scan_parquet

    def spy(spark_, snap_, files_, *a, **kw):
        probe_sizes.append(len(files_))
        return orig(spark_, snap_, files_, *a, **kw)

    im._scan_parquet = spy
    try:
        merge_iceberg(spark, t, src, key_cols=["k"])
    finally:
        im._scan_parquet = orig
    assert probe_sizes and probe_sizes[0] <= 2, probe_sizes
    after = iceberg_snapshot(t)
    carried = set(before["files"]) & set(after["files"])
    assert len(carried) >= 18
    got = _rows(
        read_iceberg(spark, t).selectExpr("k AS id", "v")
    )
    expect = {
        (f"k{i:05d}", f"v{i}") for i in range(2000) if i not in (5, 7)
    } | {("k00005", "UP5"), ("k00007", "UP7"), ("k00007a", "NEW")}
    assert got == expect


def test_delete_iceberg_bare_condition_auto_pruned(spark, tmp_path):
    """VERDICT r15 #3, Iceberg side: bare string/date equality DELETE
    derives stage-1 bounds from the condition and probes only files
    whose manifest bounds admit the key."""
    import embeddinghub_spark.sources.iceberg_meta as im
    from embeddinghub_spark.sources.iceberg_write import delete_iceberg

    t = str(tmp_path / "barecond")
    write_iceberg(
        spark.range(0, 2000).selectExpr(
            "id", "format_string('k%05d', id) AS k"
        ).repartitionByRange(20, "id"),
        t,
    )
    probe_sizes = []
    orig = im._scan_parquet

    def spy(spark_, snap_, files_, *a, **kw):
        probe_sizes.append(len(files_))
        return orig(spark_, snap_, files_, *a, **kw)

    im._scan_parquet = spy
    try:
        assert delete_iceberg(spark, t, "id = 7") is not None
        assert delete_iceberg(spark, t, "k = 'k01500'") is not None
    finally:
        im._scan_parquet = orig
    assert probe_sizes[0] == 1, probe_sizes
    assert probe_sizes[2] == 1, probe_sizes
    got = {r["id"] for r in read_iceberg(spark, t).collect()}
    assert got == set(range(2000)) - {7, 1500}


def test_iceberg_long_string_bounds_truncate_and_stay_sound(
    spark, tmp_path
):
    """Manifest string bounds obey truncate(16): stored lower <= data,
    stored upper (incremented) >= data, both <=16 code points; a merge
    keyed on >16-char strings stays exact."""
    from embeddinghub_spark.sources.iceberg_write import merge_iceberg

    t = str(tmp_path / "longb")
    prefix = "tenant-0001-user-"  # 17 chars > 16
    write_iceberg(
        spark.range(0, 400).selectExpr(
            f"concat('{prefix}', format_string('%05d', id)) AS k",
            "concat('v', id) AS v",
        ).repartitionByRange(8, "k"),
        t,
    )
    snap = iceberg_snapshot(t)
    for f in snap["files"]:
        lo, hi = snap["file_bounds"][f]["k"]
        assert len(lo) <= 16 and len(hi) <= 16
        assert lo <= prefix and hi > prefix  # valid loose bounds

    src = spark.createDataFrame(
        [(f"{prefix}00042", "UP"), (f"{prefix}x", "NEW")],
        "k string, v string",
    )
    merge_iceberg(spark, t, src, key_cols=["k"])
    got = dict(
        (r["k"], r["v"]) for r in read_iceberg(spark, t).collect()
    )
    assert got[f"{prefix}00042"] == "UP"
    assert got[f"{prefix}x"] == "NEW"
    assert len(got) == 401


def test_delete_iceberg_mor_writes_position_deletes(spark, tmp_path):
    """delete_iceberg(strategy='mor') (r16): a position-delete commit
    rewrites ZERO data files — matched (file_path, pos) pairs land in
    a sorted delete parquet committed through a content=1 manifest
    appended to the carried manifest list; reads, time travel and the
    appends-only increment gate stay exact; a second MoR delete
    stacks; COW DML on the MoR table takes the purge rewrite."""
    import glob

    import pyarrow.parquet as pq

    from embeddinghub_spark.sources.iceberg_write import delete_iceberg

    t = str(tmp_path / "morice")
    write_iceberg(
        spark.range(0, 2000).selectExpr(
            "id", "concat('v', id) AS v"
        ).repartitionByRange(10, "id"),
        t,
    )
    before = iceberg_snapshot(t)
    parquets_before = sorted(
        glob.glob(os.path.join(t, "data", "*.parquet"))
    )

    sid = delete_iceberg(spark, t, "id IN (5, 7, 1500)",
                         strategy="mor")
    assert sid is not None
    after = iceberg_snapshot(t)
    assert after["snapshot_id"] == sid
    # data files untouched; one delete file per (single) partition
    assert set(after["files"]) == set(before["files"])
    dels = sorted(
        set(glob.glob(os.path.join(t, "data", "*.parquet")))
        - set(parquets_before)
    )
    assert len(dels) == 1  # unpartitioned table: one delete file
    assert len(after["position_deletes"]) >= 1
    # the delete parquet is sorted and carries the spec's field ids
    pf = pq.read_table(after["position_deletes"][0])
    rows = list(zip(pf.column("file_path").to_pylist(),
                    pf.column("pos").to_pylist()))
    assert rows == sorted(rows)
    sch = pq.read_schema(after["position_deletes"][0])
    assert sch.field("file_path").metadata[b"PARQUET:field_id"] == b"2147483546"
    assert sch.field("pos").metadata[b"PARQUET:field_id"] == b"2147483545"
    # reads exact; pre-delete snapshot intact
    got = {r["id"] for r in read_iceberg(spark, t).collect()}
    assert got == set(range(2000)) - {5, 7, 1500}
    old = {r["id"] for r in read_iceberg(
        spark, t, snapshot_id=before["snapshot_id"]).collect()}
    assert old == set(range(2000))
    # summary records the delete op
    snap_rec = next(s for s in after["metadata"]["snapshots"]
                    if s["snapshot-id"] == sid)
    assert snap_rec["summary"]["operation"] == "delete"
    assert snap_rec["summary"]["added-position-deletes"] == "3"
    # increment read over the delete range refuses (not append-only)
    with pytest.raises(Exception):
        read_iceberg_increment(spark, t, before["snapshot_id"], sid)

    # a second MoR delete stacks on the first
    sid2 = delete_iceberg(spark, t, "id = 6", strategy="mor")
    got2 = {r["id"] for r in read_iceberg(spark, t).collect()}
    assert got2 == set(range(2000)) - {5, 6, 7, 1500}
    # no-match returns None without committing
    assert delete_iceberg(spark, t, "id = -1", strategy="mor") is None
    assert iceberg_snapshot(t)["snapshot_id"] == sid2

    # COW delete on the MoR table routes to the purge rewrite and
    # clears the delete files from the live snapshot
    sid3 = delete_iceberg(spark, t, "id < 100")
    assert sid3 is not None
    final = iceberg_snapshot(t)
    assert not final["position_deletes"]
    got3 = {r["id"] for r in read_iceberg(spark, t).collect()}
    assert got3 == set(range(100, 2000)) - {1500}
    # mass-delete guard
    with pytest.raises(ValueError, match="max_mor_rows"):
        delete_iceberg(spark, t, "id >= 0", strategy="mor",
                       max_mor_rows=10)


def test_delete_iceberg_mor_partitioned(spark, tmp_path):
    """MoR position deletes on an identity-PARTITIONED table: one
    delete file per touched partition, each manifest entry carrying
    its typed partition tuple (how real DeleteFileIndex scopes
    position deletes); the delete manifest reads back through the
    REAL Java Avro library; partition-pruned reads apply the right
    deletes."""
    import glob

    from embeddinghub_spark.sources.iceberg_write import delete_iceberg

    t = str(tmp_path / "morpart")
    df = spark.createDataFrame(
        [(i, f"v{i}", "eu" if i % 2 else "us") for i in range(400)],
        "id long, v string, region string",
    )
    write_iceberg(df, t, partition_by=["region"])
    before = iceberg_snapshot(t)

    sid = delete_iceberg(spark, t, "id IN (3, 4, 7)", strategy="mor")
    assert sid is not None
    after = iceberg_snapshot(t)
    # ids 3,7 are eu; id 4 is us -> one delete file per partition
    assert len(after["position_deletes"]) == 2
    got = {r["id"] for r in read_iceberg(spark, t).collect()}
    assert got == set(range(400)) - {3, 4, 7}
    # partition-filtered read still applies its partition's deletes
    eu = {r["id"] for r in read_iceberg(
        spark, t, partition_filter={"region": "eu"}).collect()}
    assert eu == {i for i in range(400) if i % 2} - {3, 7}

    # the content=1 manifest cross-validates through Java Avro and
    # carries the typed partition value per entry
    jvm = spark.sparkContext._jvm
    mans = [p for p in glob.glob(os.path.join(t, "metadata", "m-*.avro"))]
    dm = None
    for p in mans:
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(p),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        if reader.getMetaString("content") == "deletes":
            parts = []
            while reader.hasNext():
                rec = reader.next()
                dfr = rec.get("data_file")
                assert int(str(dfr.get("content"))) == 1
                parts.append(str(dfr.get("partition").get("region")))
            dm = sorted(parts)
        reader.close()
    assert dm == ["eu", "us"]
    # pre-delete snapshot unaffected
    old = {r["id"] for r in read_iceberg(
        spark, t, snapshot_id=before["snapshot_id"]).collect()}
    assert old == set(range(400))


def test_update_iceberg_mor_row_delta(spark, tmp_path):
    """update_iceberg(strategy='mor') (r16): the spec's row-delta
    "overwrite" snapshot — matched rows' old positions land in
    position-delete files, updated images stage as new data files,
    one atomic commit; assignments see the PRE-update row; required
    columns stay required through the staging round-trip; MoR delete
    composes; COW afterwards purges. The second input RELOCATES the
    table after the MoR delete (metadata location != its path): the
    MoR update probe must rebase the delete file's recorded paths, or
    the deleted row comes back."""
    for relocate in (False, True):
        _update_iceberg_mor_row_delta(spark, tmp_path, relocate)


def _update_iceberg_mor_row_delta(spark, tmp_path, relocate):
    import shutil

    from embeddinghub_spark.sources.iceberg_write import (
        delete_iceberg,
        update_iceberg,
    )

    t = str(tmp_path / f"imorupd{int(relocate)}")
    write_iceberg(
        spark.range(0, 20000).selectExpr(
            "id", "concat('v', id) AS v", "CAST(id % 7 AS DOUBLE) AS w"
        ).repartitionByRange(10, "id"),
        t,
    )
    before = iceberg_snapshot(t)
    tbl_bytes = sum(before["file_sizes"].values())

    sid = update_iceberg(
        spark, t, "id % 5000 = 0",
        {"v": "concat('w=', CAST(w AS STRING))", "w": "w * 2"},
        strategy="mor",
    )
    assert sid is not None
    after = iceberg_snapshot(t)
    # all original data files still live + new small ones + deletes
    assert set(before["files"]) <= set(after["files"])
    new_files = set(after["files"]) - set(before["files"])
    assert new_files
    new_bytes = sum(after["file_sizes"][f] for f in new_files)
    assert new_bytes < 0.1 * tbl_bytes
    assert after["position_deletes"]
    snap_rec = next(s for s in after["metadata"]["snapshots"]
                    if s["snapshot-id"] == sid)
    assert snap_rec["summary"]["operation"] == "overwrite"
    assert snap_rec["summary"]["added-position-deletes"] == "4"
    # totals count data records only (not delete retractions)
    assert snap_rec["summary"]["total-records"] == "20004"
    rows = {r["id"]: (r["v"], r["w"])
            for r in read_iceberg(spark, t).collect()}
    assert len(rows) == 20000
    assert rows[5000] == ("w=2.0", 4.0)
    assert rows[0] == ("w=0.0", 0.0)
    assert rows[5001] == ("v5001", 3.0)
    # pre-update snapshot intact
    old = {r["id"]: r["v"] for r in read_iceberg(
        spark, t, snapshot_id=before["snapshot_id"]).collect()}
    assert old[5000] == "v5000"
    # NULL into a REQUIRED column raises loudly
    with pytest.raises(IcebergWriteError, match="REQUIRED"):
        update_iceberg(spark, t, "id = 3",
                       {"id": "CAST(NULL AS BIGINT)"}, strategy="mor")
    # MoR delete composes; COW update then purges the delete files
    assert delete_iceberg(spark, t, "id = 5000",
                          strategy="mor") is not None
    rows2 = {r["id"] for r in read_iceberg(spark, t).collect()}
    assert rows2 == set(range(20000)) - {5000}
    if relocate:
        shutil.move(t, t + "_moved")
        t += "_moved"
    # RESURRECTION GUARD: a MoR update whose condition matches the
    # position-deleted row must NOT write an updated image of it —
    # the probe applies existing deletes (review find r16)
    assert update_iceberg(
        spark, t, "id IN (5000, 5001)", {"w": "w + 0.5"},
        strategy="mor",
    ) is not None
    rows2b = {r["id"]: r["w"] for r in read_iceberg(spark, t).collect()}
    assert 5000 not in rows2b and len(rows2b) == 19999
    assert rows2b[5001] == (5001 % 7) + 0.5
    assert update_iceberg(spark, t, "id = 10000",
                          {"w": "99.0"}) is not None
    final = iceberg_snapshot(t)
    assert not final["position_deletes"]
    rows3 = {r["id"]: r["w"] for r in read_iceberg(spark, t).collect()}
    assert rows3[10000] == 99.0 and len(rows3) == 19999


def test_merge_iceberg_mor_row_delta(spark, tmp_path):
    """merge_iceberg(strategy='mor') (r16): matched target rows land
    in position-delete files, every source row appends as new data
    files in one atomic row-delta commit; result identical to the COW
    merge; insert-only degenerates to a pinned append."""
    from embeddinghub_spark.sources.iceberg_write import merge_iceberg

    t = str(tmp_path / "imormerge")
    write_iceberg(
        spark.range(0, 20000).selectExpr(
            "id", "concat('v', id) AS v"
        ).repartitionByRange(10, "id"),
        t,
    )
    before = iceberg_snapshot(t)

    src = spark.createDataFrame(
        [(5, "UP5"), (19998, "UP19998"), (90000, "NEW")],
        "id long, v string",
    )
    sid = merge_iceberg(spark, t, src, key_cols=["id"], strategy="mor")
    assert sid is not None
    after = iceberg_snapshot(t)
    assert set(before["files"]) <= set(after["files"])
    assert after["position_deletes"]
    snap_rec = next(s for s in after["metadata"]["snapshots"]
                    if s["snapshot-id"] == sid)
    assert snap_rec["summary"]["operation"] == "overwrite"
    assert snap_rec["summary"]["added-position-deletes"] == "2"
    got = {(r["id"], r["v"]) for r in read_iceberg(spark, t).collect()}
    expect = {(i, f"v{i}") for i in range(20000) if i not in (5, 19998)}
    expect |= {(5, "UP5"), (19998, "UP19998"), (90000, "NEW")}
    assert got == expect
    # pre-merge snapshot intact
    old = {(r["id"], r["v"]) for r in read_iceberg(
        spark, t, snapshot_id=before["snapshot_id"]).collect()}
    assert old == {(i, f"v{i}") for i in range(20000)}
    # insert-only MoR merge: plain append, no new delete files
    src2 = spark.createDataFrame([(91000, "NEW2")], "id long, v string")
    sid2 = merge_iceberg(spark, t, src2, key_cols=["id"],
                         strategy="mor")
    after2 = iceberg_snapshot(t)
    assert len(after2["position_deletes"]) == len(
        after["position_deletes"]
    )
    assert (91000, "NEW2") in {
        (r["id"], r["v"]) for r in read_iceberg(spark, t).collect()
    }
    # NULL source key into a REQUIRED column raises loudly
    bad = spark.createDataFrame([(None, "X")], "id long, v string")
    with pytest.raises(IcebergWriteError, match="REQUIRED"):
        merge_iceberg(spark, t, bad, key_cols=["id"], strategy="mor")


def test_upsert_iceberg_cdc_equality_deletes(spark, tmp_path):
    """upsert_iceberg_cdc (r16): the Flink-style streaming upsert —
    one commit appends the source rows plus an equality-delete file
    naming the source keys, with ZERO table reads (no probe: pinned
    by spying _scan_parquet); pre-existing rows with a source key die
    via the sequence rule while the appended rows survive their own
    commit; upserts stack; COW DML folds the delete files; guards
    raise on partitioned tables and NULL keys."""
    import glob

    import embeddinghub_spark.sources.iceberg_meta as im
    import pyarrow.parquet as pq
    from embeddinghub_spark.sources.iceberg_write import (
        compact_iceberg,
        upsert_iceberg_cdc,
    )

    t = str(tmp_path / "cdcup")
    write_iceberg(
        spark.range(0, 2000).selectExpr(
            "id", "concat('v', id) AS v"
        ).repartitionByRange(8, "id"),
        t,
    )
    before = iceberg_snapshot(t)

    calls = []
    orig = im._scan_parquet

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    im._scan_parquet = spy
    try:
        src = spark.createDataFrame(
            [(5, "UP5"), (1998, "UP1998"), (90000, "NEW")],
            "id long, v string",
        )
        sid = upsert_iceberg_cdc(spark, t, src, key_cols=["id"])
    finally:
        im._scan_parquet = orig
    assert calls == [], "CDC upsert must not scan the table"
    after = iceberg_snapshot(t)
    assert set(before["files"]) <= set(after["files"])
    eq = after["equality_deletes"]
    assert len(eq) == 1 and eq[0]["equality_cols"] == ["id"]
    assert eq[0]["scope"] is None  # unpartitioned: global
    # the delete parquet carries the table's field id for the key
    sch = pq.read_schema(eq[0]["path"])
    assert sch.field("id").metadata[b"PARQUET:field_id"] == b"1"
    snap_rec = next(s for s in after["metadata"]["snapshots"]
                    if s["snapshot-id"] == sid)
    assert snap_rec["summary"]["added-equality-deletes"] == "3"
    got = {(r["id"], r["v"]) for r in read_iceberg(spark, t).collect()}
    expect = {(i, f"v{i}") for i in range(2000) if i not in (5, 1998)}
    expect |= {(5, "UP5"), (1998, "UP1998"), (90000, "NEW")}
    assert got == expect
    # pre-upsert snapshot intact
    old = {(r["id"], r["v"]) for r in read_iceberg(
        spark, t, snapshot_id=before["snapshot_id"]).collect()}
    assert old == {(i, f"v{i}") for i in range(2000)}

    # a second upsert re-targets a key the first one inserted: the
    # newer delete (higher seq) kills the older appended row
    src2 = spark.createDataFrame([(5, "UP5b")], "id long, v string")
    upsert_iceberg_cdc(spark, t, src2, key_cols=["id"])
    got2 = dict((r["id"], r["v"])
                for r in read_iceberg(spark, t).collect())
    assert got2[5] == "UP5b" and len(got2) == 2001

    # compaction folds the equality deletes away, same rows
    assert compact_iceberg(spark, t) is not None
    final = iceberg_snapshot(t)
    assert not final["equality_deletes"]
    got3 = dict((r["id"], r["v"])
                for r in read_iceberg(spark, t).collect())
    assert got3 == got2

    # guards: NULL key and partitioned table
    with pytest.raises(IcebergWriteError, match="NULL in key"):
        upsert_iceberg_cdc(
            spark, t,
            spark.createDataFrame([(None, "X")], "id long, v string"),
            key_cols=["id"],
        )
    tp = str(tmp_path / "cdcpart")
    write_iceberg(
        spark.createDataFrame([(1, "a", "eu")],
                              "id long, v string, region string"),
        tp, partition_by=["region"],
    )
    with pytest.raises(IcebergProtocolError, match="PARTITIONED"):
        upsert_iceberg_cdc(
            spark, tp,
            spark.createDataFrame([(1, "b", "eu")],
                                  "id long, v string, region string"),
            key_cols=["id"],
        )


def test_equality_delete_manifest_reads_through_java_avro(
    spark, tmp_path
):
    """The equality-delete manifest (content=2 entries with the
    equality_ids array, field-ids 135/136) must decode through the
    REAL Java Avro library — the cross-validation discipline every
    hand-rolled Avro artifact here earns trust by."""
    import glob

    from embeddinghub_spark.sources.iceberg_write import (
        upsert_iceberg_cdc,
    )

    t = str(tmp_path / "eqavro")
    write_iceberg(_df(spark, [(1, "a"), (2, "b")]), t)
    upsert_iceberg_cdc(
        spark, t,
        spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]),
        key_cols=["id"],
    )
    jvm = spark.sparkContext._jvm
    found = []
    for p in glob.glob(os.path.join(t, "metadata", "m-*.avro")):
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(p),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        if reader.getMetaString("content") == "deletes":
            while reader.hasNext():
                rec = reader.next()
                dfr = rec.get("data_file")
                if int(str(dfr.get("content"))) == 2:
                    ids = dfr.get("equality_ids")
                    found.append([int(str(x)) for x in ids])
        reader.close()
    assert found == [[1]]  # the id column's field-id
    assert _rows(read_iceberg(spark, t)) == {
        (1, "a"), (2, "B"), (3, "c")
    }
