"""sources/delta_log.py — native Delta transaction-log read path.

Tables are constructed BY HAND per the public protocol
(delta-io/delta PROTOCOL.md): parquet data files via pyarrow, JSON
commits line-per-action, checkpoint parquet with struct action
columns + _last_checkpoint. No connector JAR anywhere — that absence
is exactly what the module exists for (S4 fallback;
readers.py:read_file dispatch)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from embeddinghub_spark.sources.delta_log import (
    DeltaProtocolError,
    delta_snapshot,
    delta_versions,
    is_delta_table,
    read_delta,
)

_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _meta(schema_json=_SCHEMA_JSON, partition_cols=(), configuration=None):
    return {
        "metaData": {
            "id": "00000000-0000-0000-0000-000000000000",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json,
            "partitionColumns": list(partition_cols),
            "configuration": configuration or {},
            "createdTime": 0,
        }
    }


_PROTOCOL = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _write_data(table_dir, rel_path, ids, vs):
    f = os.path.join(table_dir, rel_path)
    os.makedirs(os.path.dirname(f), exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()),
                  "v": pa.array(vs, pa.string())}),
        f,
    )


def _commit(table_dir, version, actions):
    log = os.path.join(table_dir, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _add(rel_path, partition_values=None, **extra):
    a = {
        "path": rel_path,
        "partitionValues": partition_values or {},
        "size": 1,
        "modificationTime": 0,
        "dataChange": True,
    }
    a.update(extra)
    return {"add": a}


def _remove(rel_path):
    return {"remove": {"path": rel_path, "deletionTimestamp": 0,
                       "dataChange": True}}


@pytest.fixture()
def plain_table(tmp_path):
    """v0: add f1, f2.  v1: remove f1, add f3."""
    d = str(tmp_path / "tbl")
    _write_data(d, "f1.parquet", [1, 2], ["a", "b"])
    _write_data(d, "f2.parquet", [3], ["c"])
    _write_data(d, "f3.parquet", [4, 5], ["d", "e"])
    _commit(d, 0, [_PROTOCOL, _meta(), _add("f1.parquet"),
                   _add("f2.parquet")])
    _commit(d, 1, [_remove("f1.parquet"), _add("f3.parquet"),
                   {"commitInfo": {"operation": "MERGE"}}])
    return d


def test_read_latest_and_time_travel(spark, plain_table):
    assert is_delta_table(plain_table)
    assert delta_versions(plain_table) == [0, 1]
    latest = {(r["id"], r["v"]) for r in read_delta(spark, plain_table).collect()}
    assert latest == {(3, "c"), (4, "d"), (5, "e")}
    v0 = {(r["id"], r["v"])
          for r in read_delta(spark, plain_table, version=0).collect()}
    assert v0 == {(1, "a"), (2, "b"), (3, "c")}
    with pytest.raises(ValueError, match="out of range"):
        read_delta(spark, plain_table, version=2)


def test_read_file_dispatches_to_native_log(spark, plain_table):
    """readers.read_file(fmt='delta') without the connector JAR must
    replay the log (NOT misread the directory as bare parquet, which
    would resurrect the removed f1) and honor versionAsOf."""
    from embeddinghub_spark.sources.readers import read_file

    latest = {(r["id"], r["v"])
              for r in read_file(spark, plain_table, "delta").collect()}
    assert latest == {(3, "c"), (4, "d"), (5, "e")}
    v0 = {(r["id"], r["v"])
          for r in read_file(spark, plain_table, "delta",
                             versionAsOf="0").collect()}
    assert v0 == {(1, "a"), (2, "b"), (3, "c")}
    # timestampAsOf is native since r14 (test_timestamp_as_of_
    # resolution); anything else still gates toward the connector
    with pytest.raises(ValueError, match="timestampAsOf only"):
        read_file(spark, plain_table, "delta", readChangeFeed="true")


def test_partitioned_table_types_and_null(spark, tmp_path):
    """Partition values come from the log as STRINGS and must land as
    typed columns (bigint here), including a JSON-null partition."""
    d = str(tmp_path / "ptbl")
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "v", "type": "string", "nullable": True,
                 "metadata": {}},
                {"name": "part", "type": "long", "nullable": True,
                 "metadata": {}},
            ],
        }
    )
    _write_data(d, "part=1/f1.parquet", [1], ["a"])
    _write_data(d, "part=2/f2.parquet", [2], ["b"])
    _write_data(d, "f3.parquet", [3], ["c"])
    _commit(d, 0, [
        _PROTOCOL, _meta(schema, partition_cols=["part"]),
        _add("part=1/f1.parquet", {"part": "1"}),
        _add("part=2/f2.parquet", {"part": "2"}),
        _add("f3.parquet", {"part": None}),
    ])
    out = read_delta(spark, d)
    assert dict(out.dtypes)["part"] == "bigint"
    got = {(r["id"], r["v"], r["part"]) for r in out.collect()}
    assert got == {(1, "a", 1), (2, "b", 2), (3, "c", None)}


def test_checkpoint_replay_after_vacuum(spark, tmp_path):
    """State reconstructs from checkpoint parquet + tail commits when
    the pre-checkpoint JSON commits are gone; pre-checkpoint versions
    raise instead of silently replaying a hole."""
    d = str(tmp_path / "ctbl")
    _write_data(d, "f1.parquet", [1], ["a"])
    _write_data(d, "f2.parquet", [2], ["b"])
    _write_data(d, "f3.parquet", [3], ["c"])
    _commit(d, 0, [_PROTOCOL, _meta(), _add("f1.parquet")])
    _commit(d, 1, [_remove("f1.parquet"), _add("f2.parquet")])
    # checkpoint at v1: metaData + protocol + the one active add —
    # parquet-writable action structs (configuration as a real
    # map<string,string>, the shape delta's own checkpoints use)
    log = os.path.join(d, "_delta_log")
    meta_type = pa.struct(
        [("id", pa.string()), ("schemaString", pa.string()),
         ("partitionColumns", pa.list_(pa.string())),
         ("configuration", pa.map_(pa.string(), pa.string()))]
    )
    proto_type = pa.struct(
        [("minReaderVersion", pa.int32()),
         ("minWriterVersion", pa.int32())]
    )
    add_type = pa.struct(
        [("path", pa.string()),
         ("partitionValues", pa.map_(pa.string(), pa.string())),
         ("dataChange", pa.bool_())]
    )
    rm_type = pa.struct([("path", pa.string())])
    meta_payload = {"id": "x", "schemaString": _SCHEMA_JSON,
                    "partitionColumns": [], "configuration": []}
    ckpt = pa.table({
        "metaData": pa.array([meta_payload, None, None], meta_type),
        "protocol": pa.array([None, _PROTOCOL["protocol"], None],
                             proto_type),
        "add": pa.array(
            [None, None,
             {"path": "f2.parquet", "partitionValues": [],
              "dataChange": True}],
            add_type,
        ),
        "remove": pa.array([None, None, None], rm_type),
    })
    pq.write_table(
        ckpt, os.path.join(log, f"{1:020d}.checkpoint.parquet")
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        fh.write(json.dumps({"version": 1, "size": 3}))
    _commit(d, 2, [_add("f3.parquet")])
    # vacuum the pre-checkpoint commits
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))

    got = {(r["id"], r["v"]) for r in read_delta(spark, d).collect()}
    assert got == {(2, "b"), (3, "c")}
    snap = delta_snapshot(d)
    assert snap["version"] == 2
    with pytest.raises(ValueError, match="missing commits"):
        read_delta(spark, d, version=0)


def test_reader_feature_gates_raise(spark, tmp_path):
    # unknown DV storage type raises (real DV reads are native now —
    # see test_deletion_vector_reads below)
    dv = str(tmp_path / "dv")
    _write_data(dv, "f1.parquet", [1], ["a"])
    _commit(dv, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"]}},
        _meta(),
        _add("f1.parquet",
             deletionVector={"storageType": "z", "pathOrInlineDv": "x",
                             "offset": 1, "sizeInBytes": 1,
                             "cardinality": 1}),
    ])
    with pytest.raises(DeltaProtocolError, match="storageType"):
        read_delta(spark, dv)

    cm = str(tmp_path / "cm")
    _write_data(cm, "f1.parquet", [1], ["a"])
    _commit(cm, 0, [
        _PROTOCOL,
        _meta(configuration={"delta.columnMapping.mode": "id"}),
        _add("f1.parquet"),
    ])
    # id mode still raises (name mode reads natively — see
    # test_column_mapping_name_mode_reads)
    with pytest.raises(DeltaProtocolError, match="columnMapping"):
        read_delta(spark, cm)


def test_empty_and_invalid_tables(spark, tmp_path):
    d = str(tmp_path / "empty")
    _commit(d, 0, [_PROTOCOL, _meta()])
    out = read_delta(spark, d)
    assert out.count() == 0 and out.columns == ["id", "v"]
    assert not is_delta_table(str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="_delta_log"):
        delta_snapshot(str(tmp_path / "nope"))


# --------------------------------------------------------------- write path


def test_write_delta_roundtrip_append_and_time_travel(spark, tmp_path):
    from embeddinghub_spark.sources.delta_log import write_delta

    d = str(tmp_path / "wtbl")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    assert write_delta(df1, d) == 0
    assert write_delta(df2, d) == 1
    assert delta_versions(d) == [0, 1]
    latest = {(r["id"], r["v"]) for r in read_delta(spark, d).collect()}
    assert latest == {(1, "a"), (2, "b"), (3, "c")}
    v0 = {(r["id"], r["v"])
          for r in read_delta(spark, d, version=0).collect()}
    assert v0 == {(1, "a"), (2, "b")}
    # protocol shape: every action line parses, commit 0 carries
    # protocol + metaData with the Spark schema JSON
    log0 = os.path.join(d, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(l) for l in open(log0) if l.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "protocol" and kinds[1] == "metaData"
    assert json.loads(actions[1]["metaData"]["schemaString"])["type"] == "struct"


def test_write_delta_overwrite_removes_old_files(spark, tmp_path):
    from embeddinghub_spark.sources.delta_log import (
        delta_snapshot as snap_fn,
        write_delta,
    )

    d = str(tmp_path / "otbl")
    write_delta(
        spark.createDataFrame([(1, "a")], "id long, v string"), d
    )
    write_delta(
        spark.createDataFrame([(9, "z")], "id long, v string"),
        d, mode="overwrite",
    )
    got = {(r["id"], r["v"]) for r in read_delta(spark, d).collect()}
    assert got == {(9, "z")}
    # old version still time-travels
    v0 = {(r["id"], r["v"])
          for r in read_delta(spark, d, version=0).collect()}
    assert v0 == {(1, "a")}
    assert len(snap_fn(d)["files"]) >= 1
    # the table id is stable across commits
    assert snap_fn(d)["metadata_id"] == snap_fn(d, 0)["metadata_id"]


def test_write_delta_partitioned_layout(spark, tmp_path):
    from embeddinghub_spark.sources.delta_log import write_delta

    d = str(tmp_path / "ptbl2")
    df = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "de"), (3, "c", None)],
        "id long, v string, lang string",
    )
    write_delta(df, d, partition_by=["lang"])
    out = read_delta(spark, d)
    got = {(r["id"], r["v"], r["lang"]) for r in out.collect()}
    assert got == {(1, "a", "en"), (2, "b", "de"), (3, "c", None)}
    # partition columns live in the log, not the data files
    snap = delta_snapshot(d)
    assert snap["partition_columns"] == ["lang"]
    assert all("lang" in f["partitionValues"] for f in snap["files"])
    # appending with a different partitioning raises
    with pytest.raises(ValueError, match="partition"):
        write_delta(df, d, partition_by=[])


def test_write_delta_schema_and_race_contracts(spark, tmp_path):
    from embeddinghub_spark.sources.delta_log import write_delta

    d = str(tmp_path / "stbl")
    write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), d)
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(
            spark.createDataFrame([(1.5,)], "id double"), d
        )
    # a competing writer claimed version 1 -> append retries to 2
    _commit(d, 1, [{"commitInfo": {"operation": "NOOP"}}])
    v = write_delta(
        spark.createDataFrame([(2, "b")], "id long, v string"), d
    )
    assert v == 2
    got = {(r["id"], r["v"]) for r in read_delta(spark, d).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_read_delta_increment_append_only(spark, tmp_path):
    from embeddinghub_spark.sources.delta_log import (
        read_delta_increment,
        write_delta,
    )

    d = str(tmp_path / "itbl")
    write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), d)
    write_delta(spark.createDataFrame([(2, "b")], "id long, v string"), d)
    write_delta(spark.createDataFrame([(3, "c")], "id long, v string"), d)
    inc = {(r["id"], r["v"])
           for r in read_delta_increment(spark, d, 0, 2).collect()}
    assert inc == {(2, "b"), (3, "c")}
    tail = {(r["id"], r["v"])
            for r in read_delta_increment(spark, d, 2).collect()}
    assert tail == set()
    # an overwrite in range is NOT append-only -> loud error
    write_delta(
        spark.createDataFrame([(9, "z")], "id long, v string"),
        d, mode="overwrite",
    )
    with pytest.raises(ValueError, match="not append-only"):
        read_delta_increment(spark, d, 0).collect()


def test_merge_delta_upsert_semantics_and_atomic_history(spark, tmp_path):
    from embeddinghub_spark.sources.delta_log import merge_delta, write_delta

    d = str(tmp_path / "mtbl")
    write_delta(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
        d,
    )
    v = merge_delta(
        spark,
        d,
        spark.createDataFrame([(2, "B"), (4, "d")], "id long, v string"),
        ["id"],
    )
    assert v == 1
    got = {(r["id"], r["v"]) for r in read_delta(spark, d).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    pre = {(r["id"], r["v"])
           for r in read_delta(spark, d, version=0).collect()}
    assert pre == {(1, "a"), (2, "b"), (3, "c")}


def test_write_delta_checkpoint_bounds_replay(spark, tmp_path):
    """Our own checkpoint writer round-trips through our reader after
    the pre-checkpoint JSON commits are vacuumed, and write_delta
    auto-checkpoints at the interval cadence."""
    from embeddinghub_spark.sources.delta_log import (
        write_delta,
        write_delta_checkpoint,
    )

    d = str(tmp_path / "cwtbl")
    for i in range(4):
        write_delta(
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"),
            d, checkpoint_interval=None,
        )
    v = write_delta_checkpoint(d)
    assert v == 3
    log = os.path.join(d, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{3:020d}.checkpoint.parquet"))
    assert json.load(open(os.path.join(log, "_last_checkpoint")))["version"] == 3
    # vacuum everything before the checkpoint
    for i in range(3):
        os.remove(os.path.join(log, f"{i:020d}.json"))
    got = {(r["id"], r["v"]) for r in read_delta(spark, d).collect()}
    assert got == {(0, "v0"), (1, "v1"), (2, "v2"), (3, "v3")}
    # appends continue on top of the checkpointed state
    write_delta(
        spark.createDataFrame([(9, "z")], "id long, v string"), d,
        checkpoint_interval=None,
    )
    got = {(r["id"], r["v"]) for r in read_delta(spark, d).collect()}
    assert (9, "z") in got and len(got) == 5

    # auto-cadence: interval=2 writes checkpoints at v2 and v4
    d2 = str(tmp_path / "auto")
    for i in range(5):
        write_delta(
            spark.createDataFrame([(i, "x")], "id long, v string"),
            d2, checkpoint_interval=2,
        )
    log2 = os.path.join(d2, "_delta_log")
    names = set(os.listdir(log2))
    assert f"{2:020d}.checkpoint.parquet" in names
    assert f"{4:020d}.checkpoint.parquet" in names
    assert json.load(open(os.path.join(log2, "_last_checkpoint")))["version"] == 4


def test_delta_table_registers_as_catalog_source(spark, tmp_path):
    """End-to-end coherence: a native Delta table registers as a
    primary source (fmt='delta') and flows through the catalog's
    resolution + SQL templating like any parquet source."""
    from embeddinghub_spark.catalog import Catalog
    from embeddinghub_spark.sources.delta_log import write_delta

    d = str(tmp_path / "src_tbl")
    write_delta(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (2, 30.0)], "user_id long, value double"
        ),
        d,
    )
    cat = Catalog(spark)
    cat.register_file("dsrc", "v1", d, fmt="delta")
    base = cat.dataframe("dsrc", "v1")
    assert base.count() == 3
    cat.sql_transformation(
        "dsums", "v1",
        "SELECT user_id, SUM(value) AS total FROM {{dsrc.v1}} "
        "GROUP BY user_id",
    )
    got = {(r["user_id"], r["total"])
           for r in cat.dataframe("dsums", "v1").collect()}
    assert got == {(1, 10.0), (2, 50.0)}


def test_write_delta_unescapes_hive_partition_values(spark, tmp_path):
    """Spark %XX-escapes special characters in hive directory names;
    the log's partitionValues must carry the REAL string."""
    from embeddinghub_spark.sources.delta_log import write_delta

    d = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "a b/c"), (2, "plain")], "id long, k string"
    )
    write_delta(df, d, partition_by=["k"])
    snap = delta_snapshot(d)
    vals = {f["partitionValues"]["k"] for f in snap["files"]}
    assert vals == {"a b/c", "plain"}
    got = {(r["id"], r["k"]) for r in read_delta(spark, d).collect()}
    assert got == {(1, "a b/c"), (2, "plain")}


def test_atomic_claim_unique_staging_and_loser_detection(tmp_path):
    """Two writers claiming the SAME version must not share a staging
    file: the winner's payload is what lands, the loser sees False
    and nobody crashes on cleanup (review find: a shared <v>.json.tmp
    let the loser's payload be published under the winner's claim)."""
    from embeddinghub_spark.sources.delta_log import _atomic_claim_commit

    log = str(tmp_path / "log")
    os.makedirs(log)
    assert _atomic_claim_commit(log, 5, "payload-A\n") is True
    assert _atomic_claim_commit(log, 5, "payload-B\n") is False
    assert open(os.path.join(log, f"{5:020d}.json")).read() == "payload-A\n"
    # no stray staging files left behind
    assert [f for f in os.listdir(log) if f.endswith(".tmp")] == []


def test_increment_treats_missing_datachange_remove_as_delete(spark, tmp_path):
    """RemoveFile.dataChange defaults to TRUE per the protocol: an
    older writer omitting the field is deleting data, and the
    append-only incremental read must raise, not silently skip."""
    from embeddinghub_spark.sources.delta_log import read_delta_increment

    d = str(tmp_path / "legacy")
    _write_data(d, "f1.parquet", [1], ["a"])
    _write_data(d, "f2.parquet", [2], ["b"])
    _commit(d, 0, [_PROTOCOL, _meta(), _add("f1.parquet")])
    _commit(d, 1, [{"remove": {"path": "f1.parquet"}},  # no dataChange
                   _add("f2.parquet")])
    with pytest.raises(ValueError, match="not append-only"):
        read_delta_increment(spark, d, 0)


def test_add_paths_are_uri_encoded_for_interop(spark, tmp_path):
    """PROTOCOL.md: add.path is URI-encoded. Our writer must encode
    (a real reader percent-decodes before opening) and our reader
    must decode (a connector-written log stores '%25' for '%')."""
    from embeddinghub_spark.sources.delta_log import write_delta

    d = str(tmp_path / "enc")
    write_delta(
        spark.createDataFrame([(1, "50%"), (2, "a b")], "id long, k string"),
        d, partition_by=["k"],
    )
    log0 = os.path.join(d, "_delta_log", f"{0:020d}.json")
    paths = [json.loads(l)["add"]["path"]
             for l in open(log0) if '"add"' in l]
    assert paths and all("%" in p for p in paths)  # encoded segments
    assert not any(" " in p for p in paths)
    got = {(r["id"], r["k"]) for r in read_delta(spark, d).collect()}
    assert got == {(1, "50%"), (2, "a b")}


def test_write_delta_expected_version_raises_on_race(spark, tmp_path):
    """Read-modify-write callers pin the commit to their snapshot: if
    the table advanced, committing would drop the concurrent writer's
    rows — raise ConcurrentWriteError instead of retry-removing."""
    from embeddinghub_spark.sources.delta_log import (
        ConcurrentWriteError,
        write_delta,
    )

    d = str(tmp_path / "race")
    write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), d)
    # a competing writer lands version 1 after our snapshot at 0
    write_delta(spark.createDataFrame([(2, "b")], "id long, v string"), d)
    with pytest.raises(ConcurrentWriteError, match="advanced"):
        write_delta(
            spark.createDataFrame([(9, "z")], "id long, v string"),
            d, mode="overwrite", expected_version=0,
        )
    # nothing was committed by the failed attempt
    assert delta_versions(d) == [0, 1]


def test_write_delta_revalidates_schema_on_race_created_table(spark, tmp_path):
    """A racer CREATES the table between our first look and our
    commit: the retry-loop snapshot must re-run the append schema
    check, never commit mismatched files (review find)."""
    from embeddinghub_spark.sources.delta_log import write_delta

    d = str(tmp_path / "created")
    # simulate: table exists with another schema BEFORE our commit
    # loop runs (the pre-staging look is also the loop's first look,
    # so the shared validator covers both orders)
    write_delta(spark.createDataFrame([(1.0,)], "other double"), d)
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(
            spark.createDataFrame([(1, "a")], "id long, v string"), d
        )


def test_corrupt_checkpoint_falls_back_to_json_replay(spark, tmp_path):
    """ADVICE r12: a truncated/corrupt checkpoint parquet must not
    break reads while the JSON commits still exist — delta_snapshot
    falls back to full JSON replay; only when commits are vacuumed
    past the bad checkpoint is the table unreadable. (The writer also
    now stages via tmp + os.replace so a crash can't publish a partial
    file under the checkpoint name in the first place.)"""
    from embeddinghub_spark.sources.delta_log import write_delta

    d = str(tmp_path / "corrupt")
    for i in range(3):
        write_delta(
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"),
            d, checkpoint_interval=None,
        )
    from embeddinghub_spark.sources.delta_log import write_delta_checkpoint

    write_delta_checkpoint(d)
    log = os.path.join(d, "_delta_log")
    ckpt = os.path.join(log, f"{2:020d}.checkpoint.parquet")
    with open(ckpt, "wb") as fh:  # torn write: half a parquet footer
        fh.write(b"PAR1garbage")
    got = {(r["id"], r["v"]) for r in read_delta(spark, d).collect()}
    assert got == {(0, "v0"), (1, "v1"), (2, "v2")}
    # vacuum a pre-checkpoint commit: now the fallback is impossible
    os.remove(os.path.join(log, f"{0:020d}.json"))
    with pytest.raises(ValueError, match="vacuumed"):
        delta_snapshot(d)


def test_checkpoint_writer_never_exposes_partial_file(tmp_path, spark):
    """The checkpoint temp name must not match the checkpoint regex
    (a reader listing the log mid-write would otherwise pick up the
    partial file as a real checkpoint)."""
    from embeddinghub_spark.sources.delta_log import _CHECKPOINT_RE

    assert _CHECKPOINT_RE.match(f"{2:020d}.checkpoint.parquet")
    assert not _CHECKPOINT_RE.match(
        f"{2:020d}.checkpoint.parquet.12345.tmp"
    )


def test_unknown_reader_protocol_raises(spark, tmp_path):
    """ADVICE r12: PROTOCOL.md requires readers to FAIL on an
    unsupported reader protocol — a minReaderVersion>=3 table with an
    unknown readerFeature must raise DeltaProtocolError up front, not
    be read as if it were v1."""
    d = str(tmp_path / "rf")
    _write_data(d, "f1.parquet", [1], ["a"])
    _commit(d, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["v2Checkpoint"],
                      "writerFeatures": ["v2Checkpoint"]}},
        _meta(),
        _add("f1.parquet"),
    ])
    with pytest.raises(DeltaProtocolError, match="v2Checkpoint"):
        delta_snapshot(d)

    # features this module's gates actually cover are acceptable when
    # the gated construct is absent (no DV files, mapping mode none)
    d2 = str(tmp_path / "rf_ok")
    _write_data(d2, "f1.parquet", [1], ["a"])
    _commit(d2, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        _meta(),
        _add("f1.parquet"),
    ])
    assert read_delta(spark, d2).count() == 1

    d3 = str(tmp_path / "rf_v4")
    _write_data(d3, "f1.parquet", [1], ["a"])
    _commit(d3, 0, [
        {"protocol": {"minReaderVersion": 4, "minWriterVersion": 7}},
        _meta(),
        _add("f1.parquet"),
    ])
    with pytest.raises(DeltaProtocolError, match="minReaderVersion 4"):
        delta_snapshot(d3)


def test_write_delta_rejects_empty_string_partition_value(spark, tmp_path):
    """ADVICE r12: Spark's hive layout writes '' and NULL partition
    values to the same __HIVE_DEFAULT_PARTITION__ directory and strips
    the column from the data files — '' would silently round-trip to
    NULL. The writer raises up front; NULL itself still round-trips."""
    from embeddinghub_spark.sources.delta_log import write_delta

    d = str(tmp_path / "emptypart")
    bad = spark.createDataFrame([(1, "")], "id long, lang string")
    with pytest.raises(ValueError, match="empty-string"):
        write_delta(bad, d, partition_by=["lang"])
    assert not is_delta_table(d)  # nothing was committed

    ok = spark.createDataFrame([(1, None), (2, "en")],
                               "id long, lang string")
    write_delta(ok, str(tmp_path / "nullpart"), partition_by=["lang"])
    got = {(r["id"], r["lang"])
           for r in read_delta(spark, str(tmp_path / "nullpart")).collect()}
    assert got == {(1, None), (2, "en")}


def test_read_delta_changes_cdf_over_merge_and_overwrite(spark, tmp_path):
    """VERDICT r12 #4: the no-JAR CDF fallback. A merge (update +
    insert) and an overwrite (delete) over a native table emit exactly
    the connector-shaped change rows, per commit; unchanged rows are
    silent even though the merge rewrote every file."""
    from embeddinghub_spark.sources.delta_log import (
        merge_delta,
        read_delta_changes,
        write_delta,
    )

    d = str(tmp_path / "cdf")
    write_delta(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
        d,
    )
    # v1: MERGE — update id=2, insert id=4 (read_delta_increment
    # refuses exactly this commit; the CDF fallback is for it)
    merge_delta(
        spark, d,
        spark.createDataFrame([(2, "B"), (4, "d")], "id long, v string"),
        ["id"],
    )
    # v2: overwrite dropping id=3 (a delete)
    write_delta(
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (4, "d")], "id long, v string"
        ),
        d, mode="overwrite",
    )
    got = {
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in read_delta_changes(spark, d, 0, key_cols=["id"]).collect()
    }
    assert got == {
        (2, "b", "update_preimage", 1),
        (2, "B", "update_postimage", 1),
        (4, "d", "insert", 1),
        (3, "c", "delete", 2),
    }
    # sub-range (1, 2] sees only the delete
    sub = {
        (r["id"], r["_change_type"])
        for r in read_delta_changes(spark, d, 1, 2, key_cols=["id"]).collect()
    }
    assert sub == {(3, "delete")}
    # empty range: CDF schema, zero rows
    empty = read_delta_changes(spark, d, 2, 2, key_cols=["id"])
    assert empty.count() == 0
    assert empty.columns == ["id", "v", "_change_type", "_commit_version"]


def test_read_delta_changes_compaction_is_silent(spark, tmp_path):
    """A commit that rewrites files without changing rows (compaction)
    emits nothing — identical rows on both diff sides cancel."""
    from embeddinghub_spark.sources.delta_log import read_delta_changes

    d = str(tmp_path / "compact")
    _write_data(d, "f1.parquet", [1], ["a"])
    _write_data(d, "f2.parquet", [2], ["b"])
    _write_data(d, "f12.parquet", [1, 2], ["a", "b"])
    _commit(d, 0, [_PROTOCOL, _meta(), _add("f1.parquet"),
                   _add("f2.parquet")])
    _commit(d, 1, [_remove("f1.parquet"), _remove("f2.parquet"),
                   _add("f12.parquet")])
    assert read_delta_changes(spark, d, 0, key_cols=["id"]).count() == 0


def test_read_delta_changes_contracts(spark, tmp_path):
    """Schema change inside the range raises (no single CDF shape);
    unknown key column raises; partitioned tables carry the partition
    column through the change rows."""
    from embeddinghub_spark.sources.delta_log import (
        read_delta_changes,
        write_delta,
    )

    d = str(tmp_path / "schchg")
    write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), d)
    write_delta(
        spark.createDataFrame([(1.5,)], "x double"), d, mode="overwrite"
    )
    with pytest.raises(ValueError, match="schema changed"):
        read_delta_changes(spark, d, 0, key_cols=["id"]).collect()
    with pytest.raises(ValueError, match="key column"):
        read_delta_changes(spark, d, 1, key_cols=["nope"])

    p = str(tmp_path / "partcdf")
    write_delta(
        spark.createDataFrame(
            [(1, "en", "a"), (2, "fr", "b")], "id long, lang string, v string"
        ),
        p, partition_by=["lang"],
    )
    write_delta(
        spark.createDataFrame(
            [(1, "en", "A"), (2, "fr", "b")], "id long, lang string, v string"
        ),
        p, mode="overwrite", partition_by=["lang"],
    )
    got = {
        (r["id"], r["lang"], r["v"], r["_change_type"])
        for r in read_delta_changes(spark, p, 0, key_cols=["id"]).collect()
    }
    assert got == {
        (1, "en", "a", "update_preimage"),
        (1, "en", "A", "update_postimage"),
    }


# ------------------------------------------------------------ deletion vectors


def _z85_encode(data: bytes) -> str:
    from embeddinghub_spark.sources.delta_log import _Z85_ALPHABET

    assert len(data) % 4 == 0
    out = []
    for i in range(0, len(data), 4):
        acc = int.from_bytes(data[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            acc, r = divmod(acc, 85)
            chunk.append(_Z85_ALPHABET[r])
        out.extend(reversed(chunk))
    return "".join(out)


def _dv_file(table, rel, positions, offset_pad=0):
    """A DV .bin per the on-disk framing: version byte, optional pad,
    then <int32 BE size><portable bitmap><int32 BE crc32>."""
    import struct
    import zlib

    from embeddinghub_spark.sources.roaring import serialize_bitmap_array

    data = serialize_bitmap_array(set(positions))
    p = os.path.join(table, rel)
    os.makedirs(os.path.dirname(p) or table, exist_ok=True)
    with open(p, "wb") as fh:
        fh.write(b"\x01" + b"\x00" * offset_pad)
        fh.write(struct.pack(">i", len(data)))
        fh.write(data)
        fh.write(struct.pack(">i", zlib.crc32(data) & 0x7FFFFFFF
                             if zlib.crc32(data) < 0x80000000
                             else zlib.crc32(data) - (1 << 32)))
    return 1 + offset_pad, len(data)


def test_deletion_vector_reads_all_storage_types(spark, tmp_path):
    """Native DV reads: inline (z85), path, and UUID storage — deleted
    positions vanish, everything else survives, cardinality checked."""
    import uuid as _uuid

    from embeddinghub_spark.sources.roaring import serialize_bitmap_array

    t = str(tmp_path / "dvt")
    _write_data(t, "f1.parquet", [0, 1, 2, 3, 4], list("abcde"))

    # inline: delete positions 1 and 3
    data = serialize_bitmap_array({1, 3})
    pad = (-len(data)) % 4
    inline = _z85_encode(data + b"\x00" * pad)
    _commit(t, 0, [_PROTOCOL, _meta(), _add(
        "f1.parquet",
        deletionVector={"storageType": "i", "pathOrInlineDv": inline,
                        "sizeInBytes": len(data), "cardinality": 2},
    )])
    got = {(r["id"], r["v"]) for r in read_delta(spark, t).collect()}
    assert got == {(0, "a"), (2, "c"), (4, "e")}

    # path storage: delete position 0
    t2 = str(tmp_path / "dvp")
    _write_data(t2, "f1.parquet", [0, 1], ["a", "b"])
    off, size = _dv_file(t2, "dv1.bin", {0})
    _commit(t2, 0, [_PROTOCOL, _meta(), _add(
        "f1.parquet",
        deletionVector={"storageType": "p",
                        "pathOrInlineDv": os.path.join(t2, "dv1.bin"),
                        "offset": off, "sizeInBytes": size,
                        "cardinality": 1},
    )])
    got2 = {(r["id"], r["v"]) for r in read_delta(spark, t2).collect()}
    assert got2 == {(1, "b")}

    # uuid storage: file name derived from the z85-encoded uuid
    t3 = str(tmp_path / "dvu")
    _write_data(t3, "f1.parquet", [0, 1, 2], ["a", "b", "c"])
    u = _uuid.uuid4()
    off, size = _dv_file(t3, f"deletion_vector_{u}.bin", {2},
                         offset_pad=3)
    _commit(t3, 0, [_PROTOCOL, _meta(), _add(
        "f1.parquet",
        deletionVector={"storageType": "u",
                        "pathOrInlineDv": _z85_encode(u.bytes),
                        "offset": off, "sizeInBytes": size,
                        "cardinality": 1},
    )])
    got3 = {(r["id"], r["v"]) for r in read_delta(spark, t3).collect()}
    assert got3 == {(0, "a"), (1, "b")}

    # cardinality mismatch is loud
    t4 = str(tmp_path / "dvbad")
    _write_data(t4, "f1.parquet", [0, 1], ["a", "b"])
    _commit(t4, 0, [_PROTOCOL, _meta(), _add(
        "f1.parquet",
        deletionVector={"storageType": "i", "pathOrInlineDv": inline,
                        "sizeInBytes": len(data), "cardinality": 99},
    )])
    with pytest.raises(ValueError, match="cardinality"):
        read_delta(spark, t4).collect()


def test_deletion_vector_delete_surfaces_in_change_feed(spark, tmp_path):
    """A DV-based DELETE re-adds the SAME data file path with a new
    DV; keyed by (path, DV) the change feed surfaces the deleted row —
    by path alone it would silently vanish."""
    from embeddinghub_spark.sources.delta_log import read_delta_changes
    from embeddinghub_spark.sources.roaring import serialize_bitmap_array

    t = str(tmp_path / "dvcdf")
    _write_data(t, "f1.parquet", [0, 1, 2], ["a", "b", "c"])
    _commit(t, 0, [_PROTOCOL, _meta(), _add("f1.parquet")])
    data = serialize_bitmap_array({1})
    pad = (-len(data)) % 4
    inline = _z85_encode(data + b"\x00" * pad)
    _commit(t, 1, [
        _remove("f1.parquet"),
        _add("f1.parquet",
             deletionVector={"storageType": "i",
                             "pathOrInlineDv": inline,
                             "sizeInBytes": len(data),
                             "cardinality": 1}),
    ])
    got = {(r["id"], r["v"], r["_change_type"], r["_commit_version"])
           for r in read_delta_changes(spark, t, 0, key_cols=["id"]).collect()}
    assert got == {(1, "b", "delete", 1)}


def test_checkpoint_preserves_deletion_vectors(spark, tmp_path):
    """A checkpoint that dropped the DV would resurrect deleted rows
    for post-vacuum readers — it must carry the descriptor."""
    from embeddinghub_spark.sources.delta_log import (
        write_delta_checkpoint,
    )
    from embeddinghub_spark.sources.roaring import serialize_bitmap_array

    t = str(tmp_path / "dvck")
    _write_data(t, "f1.parquet", [0, 1, 2], ["a", "b", "c"])
    data = serialize_bitmap_array({0})
    pad = (-len(data)) % 4
    inline = _z85_encode(data + b"\x00" * pad)
    _commit(t, 0, [_PROTOCOL, _meta(), _add(
        "f1.parquet",
        deletionVector={"storageType": "i", "pathOrInlineDv": inline,
                        "sizeInBytes": len(data), "cardinality": 1},
    )])
    _commit(t, 1, [{"commitInfo": {"operation": "NOOP"}}])
    write_delta_checkpoint(t, 1)
    os.remove(os.path.join(t, "_delta_log", f"{0:020d}.json"))
    got = {(r["id"], r["v"]) for r in read_delta(spark, t).collect()}
    assert got == {(1, "b"), (2, "c")}


# ------------------------------------------------------------- column mapping


def test_column_mapping_name_mode_reads(spark, tmp_path):
    """columnMapping=name: parquet stores physical column names and
    add.partitionValues keys are physical; the reader renames to the
    logical schema and attaches typed partition literals."""
    t = str(tmp_path / "cmname")
    phys = os.path.join(t, "f1.parquet")
    os.makedirs(t, exist_ok=True)
    pq.write_table(
        pa.table({"col-a1b2": pa.array([1, 2], pa.int64()),
                  "col-c3d4": pa.array(["x", "y"], pa.string())}),
        phys,
    )
    schema_json = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-a1b2"}},
            {"name": "v", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-c3d4"}},
            {"name": "lang", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "col-p9"}},
        ],
    })
    meta = _meta(schema_json=schema_json,
                 partition_cols=["lang"],
                 configuration={"delta.columnMapping.mode": "name"})
    _commit(t, 0, [_PROTOCOL, meta,
                   _add("f1.parquet", partition_values={"col-p9": "en"})])
    out = read_delta(spark, t)
    assert out.columns == ["id", "v", "lang"]
    got = {(r["id"], r["v"], r["lang"]) for r in out.collect()}
    assert got == {(1, "x", "en"), (2, "y", "en")}
    # WRITES to a column-mapped table gate loudly (review find r15):
    # this writer stages files under LOGICAL names, which a mapped
    # reader would resolve to silent NULLs for every column
    from embeddinghub_spark.sources.delta_log import write_delta

    df = spark.createDataFrame([(3, "z", "fr")],
                               "id long, v string, lang string")
    with pytest.raises(DeltaProtocolError, match="columnMapping"):
        write_delta(df, t, mode="append", partition_by=["lang"])


def test_column_mapping_nested_raises(spark, tmp_path):
    t = str(tmp_path / "cmnest")
    _write_data(t, "f1.parquet", [1], ["a"])
    schema_json = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "s", "nullable": True, "metadata": {
                "delta.columnMapping.physicalName": "col-s"},
             "type": {"type": "struct", "fields": [
                 {"name": "inner", "type": "long", "nullable": True,
                  "metadata": {
                      "delta.columnMapping.physicalName": "col-i"}},
             ]}},
        ],
    })
    _commit(t, 0, [_PROTOCOL,
                   _meta(schema_json=schema_json,
                         configuration={"delta.columnMapping.mode": "name"}),
                   _add("f1.parquet")])
    with pytest.raises(DeltaProtocolError, match="nested columnMapping"):
        delta_snapshot(t)


def test_dv_read_via_relative_and_spaced_path(spark, tmp_path,
                                              monkeypatch):
    """ADVICE r13 (low): the DV anti-join pairs were built from the
    caller's table path verbatim — a relative path, a symlink, or any
    URI-escaped character (a space reads back as %20 in
    _metadata.file_path) made the anti-join miss everything and
    DV-deleted rows silently reappeared. _scan_file_groups now
    canonicalizes the table path and url-decodes the scan side."""
    from embeddinghub_spark.sources.roaring import serialize_bitmap_array

    t = str(tmp_path / "dv dir" / "tbl")
    _write_data(t, "f1.parquet", [0, 1, 2], ["a", "b", "c"])
    data = serialize_bitmap_array({1})
    pad = (-len(data)) % 4
    inline = _z85_encode(data + b"\x00" * pad)
    _commit(t, 0, [_PROTOCOL, _meta(), _add(
        "f1.parquet",
        deletionVector={"storageType": "i", "pathOrInlineDv": inline,
                        "sizeInBytes": len(data), "cardinality": 1},
    )])
    monkeypatch.chdir(tmp_path)
    rel = os.path.join("dv dir", "tbl")
    got = {(r["id"], r["v"]) for r in read_delta(spark, rel).collect()}
    assert got == {(0, "a"), (2, "c")}


def test_read_delta_changes_range_is_linear(spark, tmp_path,
                                            monkeypatch):
    """VERDICT r13 #4: the CDF range loop used to call delta_snapshot
    per commit — each call re-reads EVERY commit json from version 0,
    so an R-commit range re-opened commit 1 about R times (O(range²)
    log parsing). One running replay state advanced commit-by-commit
    makes it linear: over the whole read_delta_changes call, any
    single commit file is opened a bounded constant number of times
    (once for the from-state, once for the to-state gate, once by the
    advance; plus the version listing — never ~R times). Semantics are
    pinned separately by test_read_delta_changes_cdf_over_merge_and
    _overwrite; this guards only the cost shape."""
    import builtins

    from embeddinghub_spark.sources.delta_log import read_delta_changes

    t = str(tmp_path / "lin")
    _write_data(t, "f0.parquet", [0], ["a"])
    _commit(t, 0, [_PROTOCOL, _meta(), _add("f0.parquet")])
    n_commits = 9
    for v in range(1, n_commits + 1):
        rel = f"f{v}.parquet"
        _write_data(t, rel, [v], [chr(97 + v)])
        _commit(t, v, [_add(rel)])

    probe = os.path.join(t, "_delta_log",
                         f"{1:020d}.json")
    counts = {"n": 0}
    real_open = builtins.open

    def counting_open(file, *a, **kw):
        if str(file) == probe:
            counts["n"] += 1
        return real_open(file, *a, **kw)

    monkeypatch.setattr(builtins, "open", counting_open)
    df = read_delta_changes(spark, t, 0, n_commits, key_cols=["id"])
    monkeypatch.undo()
    # plan construction replays the log; executing the plan doesn't
    assert counts["n"] <= 3, (
        f"commit 1 opened {counts['n']} times across a {n_commits}-"
        "commit range — the range loop is replaying the log per commit"
    )
    got = {(r["id"], r["_change_type"], r["_commit_version"])
           for r in df.collect()}
    assert got == {(v, "insert", v) for v in range(1, n_commits + 1)}


def test_write_delta_stats_and_range_skipping(spark, tmp_path):
    """write_delta emits PROTOCOL.md per-file stats (numRecords +
    min/max for numeric AND string columns — string bounds truncate
    at 32 chars with the increment rule, r16), and
    read_delta(range_filter=...) skips files whose bounds provably
    miss the range while the Spark-side BETWEEN keeps semantics
    exact; files without stats are filtered, never wrongly dropped;
    checkpoints preserve stats."""
    from embeddinghub_spark.sources.delta_log import (
        write_delta,
        write_delta_checkpoint,
    )

    t = str(tmp_path / "skip")
    write_delta(
        spark.createDataFrame([(i, f"s{i}") for i in range(10)],
                              "id long, v string").coalesce(1), t)
    write_delta(
        spark.createDataFrame([(i, f"s{i}") for i in range(100, 110)],
                              "id long, v string").coalesce(1),
        t, mode="append")
    snap = delta_snapshot(t)
    stats = [json.loads(f["stats"]) for f in snap["files"]]
    assert sorted(s["numRecords"] for s in stats) == [10, 10]
    assert sorted(s["minValues"]["id"] for s in stats) == [0, 100]
    # string bounds now recorded too (VERDICT r15 #2)
    assert sorted(s["minValues"]["v"] for s in stats) == ["s0", "s100"]
    assert sorted(s["maxValues"]["v"] for s in stats) == ["s109", "s9"]

    from embeddinghub_spark.sources.delta_log import read_delta

    full = read_delta(spark, t)
    lo = read_delta(spark, t, range_filter={"id": (None, 50)})
    assert {r["id"] for r in lo.collect()} == set(range(10))
    assert len(lo.inputFiles()) < len(full.inputFiles())
    mid = read_delta(spark, t, range_filter={"id": (5, 105)})
    assert {r["id"] for r in mid.collect()} == set(range(5, 10)) | set(
        range(100, 106)
    )
    with pytest.raises(ValueError, match="unbounded"):
        read_delta(spark, t, range_filter={"id": (None, None)})
    with pytest.raises(ValueError, match="range_filter column"):
        read_delta(spark, t, range_filter={"nope": (0, 1)})
    # unusable / mixed-kind bounds gate loudly and consistently — the
    # old path crashed with a raw TypeError, and only on files that
    # happened to record bounds (ADVICE r14; kinds widened r16)
    with pytest.raises(ValueError, match="same kind"):
        read_delta(spark, t, range_filter={"id": ("0", 10)})
    with pytest.raises(ValueError, match="must be a number"):
        read_delta(spark, t, range_filter={"id": (0, True)})
    # string range_filters prune on the new string bounds: the second
    # file's v-range [s100, s109] sorts entirely below "s5", so it is
    # provably excluded
    sv = read_delta(spark, t, range_filter={"v": ("s5", "s9")})
    assert {r["id"] for r in sv.collect()} == set(range(5, 10))
    assert len(sv.inputFiles()) < len(full.inputFiles())
    # a STATELESS add (hand-written log without stats) is never pruned
    _write_data(t, "nostats.parquet", [500], ["x"])
    _commit(t, 2, [_add("nostats.parquet")])
    both = read_delta(spark, t, range_filter={"id": (400, 600)})
    assert {r["id"] for r in both.collect()} == {500}
    # checkpoint replay keeps the stats flowing
    write_delta_checkpoint(t)
    snap2 = delta_snapshot(t)
    kept = [f for f in snap2["files"] if f.get("stats")]
    assert len(kept) == 2


def test_timestamp_as_of_resolution(spark, tmp_path, monkeypatch):
    """delta_version_at resolves timestampAsOf by commit-file mtime
    (the protocol's plain-table rule); read_file exposes it on the
    native branch, accepting epoch millis or ISO-as-UTC. Pre-history
    timestamps raise instead of guessing."""
    import os as _os

    from embeddinghub_spark.sources.delta_log import (
        delta_version_at,
        write_delta,
    )
    from embeddinghub_spark.sources.readers import read_file

    t = str(tmp_path / "ts")
    write_delta(spark.createDataFrame([(1, "a")], ["id", "v"]), t)
    write_delta(spark.createDataFrame([(2, "b")], ["id", "v"]), t,
                mode="append")
    log = _os.path.join(t, "_delta_log")
    _os.utime(_os.path.join(log, f"{0:020d}.json"), (1000, 1000))
    _os.utime(_os.path.join(log, f"{1:020d}.json"), (2000, 2000))
    assert delta_version_at(t, 1000_000) == 0
    assert delta_version_at(t, 1500_000) == 0
    assert delta_version_at(t, 2000_000) == 1
    with pytest.raises(ValueError, match="no commit at or before"):
        delta_version_at(t, 500_000)
    got = {r["id"] for r in read_file(
        spark, t, "delta", timestampAsOf="1500000"
    ).collect()}
    assert got == {1}
    # ISO form, read as UTC: 1970-01-01T00:33:20Z = 2000s
    got2 = {r["id"] for r in read_file(
        spark, t, "delta", timestampAsOf="1970-01-01T00:33:20"
    ).collect()}
    assert got2 == {1, 2}
    with pytest.raises(ValueError, match="not both"):
        read_file(spark, t, "delta", versionAsOf="0",
                  timestampAsOf="1500000")


def test_vacuum_delta_removes_only_old_unreferenced_files(spark,
                                                          tmp_path):
    """Protocol VACUUM: only files the CURRENT snapshot doesn't
    reference AND older than retention go; dry_run reports without
    deleting; current reads stay intact; time travel to the vacuumed
    version now fails on the missing files (the connector's
    documented consequence)."""
    from embeddinghub_spark.sources.delta_log import (
        vacuum_delta,
        write_delta,
    )

    t = str(tmp_path / "vac")
    write_delta(
        spark.createDataFrame([(1, "a")], ["id", "v"]).coalesce(1), t)
    write_delta(
        spark.createDataFrame([(2, "b")], ["id", "v"]).coalesce(1), t,
        mode="overwrite")
    now = 10_000_000_000_000
    # within retention: nothing eligible
    assert vacuum_delta(t, retain_ms=now * 2, now_ms=now) == []
    # dry run lists the v0 file but keeps it
    would = vacuum_delta(t, retain_ms=0, now_ms=now, dry_run=True)
    assert len(would) == 1 and os.path.exists(would[0])
    gone = vacuum_delta(t, retain_ms=0, now_ms=now)
    assert gone == would and not os.path.exists(gone[0])
    assert {(r["id"], r["v"]) for r in read_delta(spark, t).collect()} \
        == {(2, "b")}
    with pytest.raises(Exception):
        read_delta(spark, t, version=0).collect()

    # a crashed writer's _staging_ dir goes whole (its _SUCCESS and
    # .crc files too) once it is older than the retention window; a
    # fresh one — an in-flight writer's — stays
    stale, fresh = (os.path.join(t, f"_staging_{h}") for h in ("0dead", "1live"))
    for d, age_ms in ((stale, 30 * 24 * 3600 * 1000), (fresh, 0)):
        os.makedirs(os.path.join(d, "id=1"))
        for f in ("_SUCCESS", "._SUCCESS.crc", "id=1/part-0.parquet"):
            open(os.path.join(d, f), "w").close()
            ts = (now - age_ms) / 1000
            os.utime(os.path.join(d, f), (ts, ts))
    want = sorted(
        os.path.realpath(os.path.join(r, f))
        for r, _d, fs in os.walk(stale) for f in fs
    )
    assert vacuum_delta(t, now_ms=now) == want
    assert not os.path.exists(stale)
    assert os.path.isfile(os.path.join(fresh, "id=1", "part-0.parquet"))


def test_merge_delta_is_file_pruned(spark, tmp_path):
    """VERDICT r14 #3: a ~1%-churn MERGE rewrites only the files that
    actually contain a source key — bytes written are proportional to
    the touched files, not the table — while the result is identical
    to a full rebuild and every untouched file carries forward
    byte-for-byte (same add path, never rewritten)."""
    from embeddinghub_spark.sources.delta_log import (
        merge_delta,
        write_delta,
    )

    t = str(tmp_path / "pruned")
    base = spark.range(0, 2000).selectExpr(
        "id", "concat('v', id) AS v"
    ).repartitionByRange(20, "id")
    write_delta(base, t)
    before = delta_snapshot(t)
    assert len(before["files"]) == 20
    tbl_bytes = sum(f["size"] for f in before["files"])

    src = spark.createDataFrame(
        [(5, "UP5"), (1998, "UP1998"), (5000, "NEW")], "id long, v string"
    )
    v = merge_delta(spark, t, src, key_cols=["id"])
    after = delta_snapshot(t)

    before_paths = {f["path"] for f in before["files"]}
    after_paths = {f["path"] for f in after["files"]}
    removed = before_paths - after_paths
    added = [f for f in after["files"] if f["path"] not in before_paths]
    # ids 5 and 1998 live in one range-partitioned file each
    assert 1 <= len(removed) <= 2, removed
    assert len(before_paths & after_paths) >= 18, "untouched files moved"
    added_bytes = sum(f["size"] for f in added)
    assert added_bytes <= 0.3 * tbl_bytes, (added_bytes, tbl_bytes)

    # result ≡ full rebuild
    got = {(r["id"], r["v"])
           for r in read_delta(spark, t, version=v).collect()}
    expect = {(i, f"v{i}") for i in range(2000) if i not in (5, 1998)}
    expect |= {(5, "UP5"), (1998, "UP1998"), (5000, "NEW")}
    assert got == expect
    # time travel to the pre-merge version still serves the old state
    old = {(r["id"], r["v"])
           for r in read_delta(spark, t, version=before["version"])
           .collect()}
    assert old == {(i, f"v{i}") for i in range(2000)}
    # insert-only merge (no key overlap): zero removes, one small add
    src2 = spark.createDataFrame([(7777, "NEW2")], "id long, v string")
    merge_delta(spark, t, src2, key_cols=["id"])
    after2 = delta_snapshot(t)
    assert after_paths <= {f["path"] for f in after2["files"]}, (
        "insert-only merge must not rewrite any live file"
    )


def test_compact_delta_optimize_semantics(spark, tmp_path):
    """OPTIMIZE (r15): small files bin-pack into one rearrangement-
    only commit — large files carry forward, rows identical, the
    commit is dataChange:false throughout, so append-only incremental
    readers see NOTHING and the CDF diff emits NOTHING."""
    from embeddinghub_spark.sources.delta_log import (
        compact_delta,
        read_delta_changes,
        read_delta_increment,
        write_delta,
    )

    t = str(tmp_path / "opt")
    write_delta(
        spark.range(0, 200).selectExpr("id", "concat('v', id) AS v")
        .repartition(10),
        t,
    )
    write_delta(
        spark.range(200, 5200).selectExpr("id", "concat('v', id) AS v")
        .repartition(1),
        t, mode="append",
    )
    before = delta_snapshot(t)
    assert len(before["files"]) == 11
    big = max(before["files"], key=lambda f: f["size"])

    v = compact_delta(spark, t, target_file_bytes=big["size"])
    assert v == before["version"] + 1
    after = delta_snapshot(t)
    # 10 small files became 1; the big file carried untouched
    assert len(after["files"]) == 2
    assert big["path"] in {f["path"] for f in after["files"]}
    got = {(r["id"], r["v"]) for r in read_delta(spark, t).collect()}
    assert got == {(i, f"v{i}") for i in range(5200)}
    # the commit is rearrangement-only, action by action
    log = os.path.join(t, "_delta_log", f"{v:020d}.json")
    acts = [json.loads(x) for x in open(log) if x.strip()]
    for a in acts:
        for kind in ("add", "remove"):
            if a.get(kind):
                assert a[kind]["dataChange"] is False, a
    assert any(
        a.get("commitInfo", {}).get("operation") == "OPTIMIZE"
        for a in acts
    )
    # invisible to append-only increments AND to the CDF diff
    assert read_delta_increment(spark, t, before["version"]).count() == 0
    assert read_delta_changes(
        spark, t, before["version"], key_cols=["id"]
    ).count() == 0
    # time travel still serves the pre-compaction layout
    assert read_delta(spark, t, version=before["version"]).count() == 5200
    # nothing left to do: one small output + one big file
    assert compact_delta(spark, t, target_file_bytes=big["size"]) is None


def test_compact_delta_sort_by_tightens_stats(spark, tmp_path):
    """compact_delta(sort_by=…) range-clusters the rewritten rows:
    the new files' recorded id bounds are pairwise DISJOINT, which is
    what range_filter data skipping prunes on."""
    from embeddinghub_spark.sources.delta_log import (
        compact_delta,
        write_delta,
    )

    t = str(tmp_path / "optsort")
    # interleaved writes → every file spans the whole id range
    df = spark.range(0, 4000).selectExpr(
        "id", "concat('v', id) AS v"
    ).repartition(8)  # hash-ish distribution, wide per-file ranges
    write_delta(df, t)
    before = delta_snapshot(t)
    total = sum(f["size"] for f in before["files"])
    v = compact_delta(
        spark, t, target_file_bytes=total // 3, sort_by=["id"]
    )
    assert v is not None
    after = delta_snapshot(t)
    spans = []
    for f in after["files"]:
        st = json.loads(f["stats"])
        spans.append((st["minValues"]["id"], st["maxValues"]["id"]))
    assert len(spans) >= 2
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, f"overlapping file ranges {spans}"
    got = {r["id"] for r in read_delta(spark, t).collect()}
    assert got == set(range(4000))


def test_compact_delta_purges_deletion_vectors(spark, tmp_path):
    """A DV'd file is rewritten regardless of size (the connector's
    PURGE): the new snapshot carries NO deletionVector and exactly
    the live rows."""
    from embeddinghub_spark.sources.delta_log import compact_delta
    from embeddinghub_spark.sources.roaring import (
        serialize_bitmap_array,
    )

    t = str(tmp_path / "purge")
    _write_data(t, "f1.parquet", [0, 1, 2, 3, 4], list("abcde"))
    _write_data(t, "f2.parquet", [5, 6], ["f", "g"])
    data = serialize_bitmap_array({1, 3})
    pad = (-len(data)) % 4
    inline = _z85_encode(data + b"\x00" * pad)
    _commit(t, 0, [_PROTOCOL, _meta(),
                   _add("f1.parquet", deletionVector={
                       "storageType": "i", "pathOrInlineDv": inline,
                       "sizeInBytes": len(data), "cardinality": 2}),
                   _add("f2.parquet")])
    v = compact_delta(spark, t, target_file_bytes=10**9)
    assert v == 1
    after = delta_snapshot(t)
    assert all(not f.get("deletionVector") for f in after["files"])
    got = {(r["id"], r["v"]) for r in read_delta(spark, t).collect()}
    assert got == {(0, "a"), (2, "c"), (4, "e"), (5, "f"), (6, "g")}


def test_write_delta_merge_schema_evolution(spark, tmp_path):
    """merge_schema=True (r15): appending a DataFrame with a NEW
    nullable column evolves the table schema (union, table order
    first); old files read the new column as NULL. The DataFrame may
    OMIT nullable table columns (they read as NULL in the new file).
    Type clashes and non-nullable additions/omissions raise."""
    from embeddinghub_spark.sources.delta_log import write_delta

    t = str(tmp_path / "evo")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        t,
    )
    # strict default still raises
    wide = spark.createDataFrame(
        [(3, "c", 0.5)], "id long, v string, score double"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(wide, t, mode="append")
    write_delta(wide, t, mode="append", merge_schema=True)
    out = read_delta(spark, t)
    assert [f.name for f in out.schema.fields] == ["id", "v", "score"]
    got = {(r["id"], r["v"], r["score"]) for r in out.collect()}
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 0.5)}
    # omitting a nullable column is fine — it reads as NULL
    write_delta(
        spark.createDataFrame([(4, 1.5)], "id long, score double"),
        t, mode="append", merge_schema=True,
    )
    got2 = {(r["id"], r["v"], r["score"])
            for r in read_delta(spark, t).collect()}
    assert (4, None, 1.5) in got2 and len(got2) == 4
    # type clash on a shared name raises
    with pytest.raises(ValueError, match="type mismatch"):
        write_delta(
            spark.createDataFrame([("x", "y")], "id string, v string"),
            t, mode="append", merge_schema=True,
        )
    # time travel serves the ORIGINAL schema at version 0
    v0 = read_delta(spark, t, version=0)
    assert [f.name for f in v0.schema.fields] == ["id", "v"]


def test_delete_update_delta_file_pruned(spark, tmp_path):
    """Row-level DELETE/UPDATE (r15): only files actually holding a
    matching row rewrite; a fully-matching file is removed without a
    replacement; UPDATE applies assignments to exactly the matching
    rows, evaluated against the PRE-update row; no-match ops return
    None without committing."""
    from pyspark.sql import functions as F

    from embeddinghub_spark.sources.delta_log import (
        delete_delta,
        update_delta,
        write_delta,
    )

    t = str(tmp_path / "dml")
    write_delta(
        spark.range(0, 2000).selectExpr(
            "id", "concat('v', id) AS v", "CAST(id % 7 AS DOUBLE) AS w"
        ).repartitionByRange(20, "id"),
        t,
    )
    before = delta_snapshot(t)
    assert len(before["files"]) == 20

    # DELETE a 2-row slice: one or two files rewrite, the rest carry
    v = delete_delta(spark, t, "id IN (5, 1998)",
                     range_filter={"id": (5, 1998)})
    after = delta_snapshot(t)
    assert v == before["version"] + 1
    carried = {f["path"] for f in before["files"]} & {
        f["path"] for f in after["files"]
    }
    assert len(carried) >= 18
    got = {r["id"] for r in read_delta(spark, t).collect()}
    assert got == set(range(2000)) - {5, 1998}

    # DELETE everything in one range-partitioned file: removed, no add
    ids_left = sorted(got)
    v2 = delete_delta(spark, t, F.col("id") < 100)
    got2 = {r["id"] for r in read_delta(spark, t).collect()}
    assert got2 == {i for i in ids_left if i >= 100}
    # UPDATE: assignments see PRE-update values (v gets OLD w; w
    # doubles) and only matching rows change
    from embeddinghub_spark.sources.delta_log import delta_snapshot as ds
    v3 = update_delta(
        spark, t, "id % 500 = 0",
        {"v": "concat('w=', CAST(w AS STRING))", "w": F.col("w") * 2},
    )
    assert v3 is not None
    rows = {r["id"]: (r["v"], r["w"])
            for r in read_delta(spark, t).collect()}
    assert rows[500] == ("w=3.0", 6.0)   # old w=500%7=3 → v sees 3
    assert rows[1000] == ("w=6.0", 12.0)
    assert rows[501] == ("v501", 4.0)    # untouched row intact
    # no-match DELETE: no commit at all
    assert delete_delta(spark, t, "id = -1") is None
    assert delta_snapshot(t)["version"] == v3
    # unknown assignment column / partition-column update raise
    with pytest.raises(ValueError, match="unknown columns"):
        update_delta(spark, t, "id = 1", {"nope": F.lit(1)})


def test_schema_evolution_preserves_table_configuration(spark, tmp_path):
    """ADVICE r16: a schema-evolving metaData action (merge_schema
    append or overwrite evolution) must carry the previous metaData's
    configuration and createdTime verbatim — rewriting them as {}/0
    silently wiped table properties (delta.enableChangeDataFeed,
    appendOnly, checkpoint policies) on connector-created tables.
    Only schemaString may change."""
    from embeddinghub_spark.sources.delta_log import (
        delta_snapshot,
        write_delta,
    )

    t = str(tmp_path / "cfg")
    write_delta(
        spark.createDataFrame([(1, "a")], "id long, v string"), t
    )
    # Simulate a connector-created table: give version 0's metaData a
    # live configuration + real createdTime, as delta-spark would.
    v0 = os.path.join(t, "_delta_log", f"{0:020d}.json")
    lines = []
    with open(v0, encoding="utf-8") as fh:
        for line in fh:
            a = json.loads(line)
            if "metaData" in a:
                a["metaData"]["configuration"] = {
                    "delta.enableChangeDataFeed": "true",
                    "delta.appendOnly": "false",
                }
                a["metaData"]["createdTime"] = 1700000000000
            lines.append(json.dumps(a))
    with open(v0, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    snap = delta_snapshot(t)
    assert snap["configuration"] == {
        "delta.enableChangeDataFeed": "true",
        "delta.appendOnly": "false",
    }

    # merge_schema append evolves the schema but carries config/ctime
    write_delta(
        spark.createDataFrame([(2, "b", 0.5)],
                              "id long, v string, score double"),
        t, mode="append", merge_schema=True,
    )
    with open(os.path.join(t, "_delta_log", f"{1:020d}.json"),
              encoding="utf-8") as fh:
        metas = [json.loads(x)["metaData"] for x in fh
                 if "metaData" in json.loads(x)]
    assert len(metas) == 1
    assert metas[0]["configuration"] == {
        "delta.enableChangeDataFeed": "true",
        "delta.appendOnly": "false",
    }
    assert metas[0]["createdTime"] == 1700000000000
    assert "score" in metas[0]["schemaString"]

    # overwrite evolution carries them too
    write_delta(
        spark.createDataFrame([(3, 1)], "id long, n long"),
        t, mode="overwrite",
    )
    snap2 = delta_snapshot(t)
    assert snap2["configuration"]["delta.enableChangeDataFeed"] == "true"
    assert snap2["created_time"] == 1700000000000
    assert [f.name for f in snap2["schema"].fields] == ["id", "n"]


def test_merge_delta_string_key_is_file_pruned(spark, tmp_path):
    """VERDICT r15 #2: the string-bound stats make a STRING-keyed
    merge file-pruned — stage 1 excludes files whose key bounds miss
    the source range, and the exact probe scans only the survivors
    (mirror of test_merge_delta_is_file_pruned, which pins the
    numeric-key path). A 3-key merge over 20 range-partitioned files
    must probe <=2 files and rewrite <=2."""
    import embeddinghub_spark.sources.delta_log as dl
    from embeddinghub_spark.sources.delta_log import merge_delta, write_delta

    t = str(tmp_path / "strmerge")
    base = spark.range(0, 2000).selectExpr(
        "format_string('k%05d', id) AS k", "concat('v', id) AS v"
    ).repartitionByRange(20, "k")
    write_delta(base, t)
    before = delta_snapshot(t)
    assert len(before["files"]) == 20

    # adjacent keys: the source range [k00005, k00007a] intersects
    # at most 2 range-partitioned files' bounds ("k00007a" is a new
    # key sorting between existing ones, so the insert stays local)
    src = spark.createDataFrame(
        [("k00005", "UP5"), ("k00007", "UP7"), ("k00007a", "NEW")],
        "k string, v string",
    )
    probe_sizes = []
    orig = dl._scan_file_groups

    def spy(spark_, path_, schema_, pcols_, files_, *a, **kw):
        probe_sizes.append(len(files_))
        return orig(spark_, path_, schema_, pcols_, files_, *a, **kw)

    dl._scan_file_groups = spy
    try:
        merge_delta(spark, t, src, key_cols=["k"])
    finally:
        dl._scan_file_groups = orig
    # first spy call is the stage-2 probe over stage-1 candidates
    assert probe_sizes and probe_sizes[0] <= 2, probe_sizes
    after = delta_snapshot(t)
    carried = {f["path"] for f in before["files"]} & {
        f["path"] for f in after["files"]
    }
    assert len(carried) >= 18
    got = {(r["k"], r["v"]) for r in read_delta(spark, t).collect()}
    expect = {
        (f"k{i:05d}", f"v{i}") for i in range(2000) if i not in (5, 7)
    } | {("k00005", "UP5"), ("k00007", "UP7"), ("k00007a", "NEW")}
    assert got == expect


def test_delete_delta_bare_condition_auto_pruned(spark, tmp_path):
    """VERDICT r15 #3: a bare delete_delta(spark, p, "id = N") derives
    its stage-1 bounds from the condition itself — no caller-seeded
    range_filter — and probes only the files whose stats admit the
    key. String equality and DATE literals derive too."""
    import embeddinghub_spark.sources.delta_log as dl
    from embeddinghub_spark.sources.delta_log import delete_delta, write_delta

    t = str(tmp_path / "barecond")
    write_delta(
        spark.range(0, 2000).selectExpr(
            "id", "format_string('k%05d', id) AS k"
        ).repartitionByRange(20, "id"),
        t,
    )
    probe_sizes = []
    orig = dl._scan_file_groups

    def spy(spark_, path_, schema_, pcols_, files_, *a, **kw):
        probe_sizes.append(len(files_))
        return orig(spark_, path_, schema_, pcols_, files_, *a, **kw)

    dl._scan_file_groups = spy
    try:
        assert delete_delta(spark, t, "id = 7") is not None
        assert delete_delta(spark, t, "k = 'k01500'") is not None
        # OR falls through soundly: every file probed, still correct
        assert delete_delta(spark, t, "id = 3 OR id = 1999") is not None
    finally:
        dl._scan_file_groups = orig
    # three DML probes (each delete probes once, then scans touched)
    assert probe_sizes[0] == 1, probe_sizes   # id = 7
    assert probe_sizes[2] == 1, probe_sizes   # string equality
    got = {r["id"] for r in read_delta(spark, t).collect()}
    assert got == set(range(2000)) - {7, 1500, 3, 1999}


def test_merge_delta_long_string_keys_truncated_bounds_stay_sound(
    spark, tmp_path
):
    """Keys LONGER than the 32-char stats prefix: bounds truncate
    (upper incremented), pruning stays sound (never drops a file that
    holds a key), and the merge result is exact."""
    from embeddinghub_spark.sources.delta_log import merge_delta, write_delta

    t = str(tmp_path / "longkeys")
    prefix = "tenant-0001-region-eu-central-1-user-"  # 37 chars
    base = spark.range(0, 400).selectExpr(
        f"concat('{prefix}', format_string('%05d', id)) AS k",
        "concat('v', id) AS v",
    ).repartitionByRange(8, "k")
    write_delta(base, t)
    snap = delta_snapshot(t)
    stats = json.loads(snap["files"][0]["stats"])
    assert len(stats["minValues"]["k"]) <= 32
    up = stats["maxValues"]["k"]
    assert len(up) <= 32 and up > prefix  # incremented past the data

    src = spark.createDataFrame(
        [(f"{prefix}00042", "UP"), (f"{prefix}99999", "NEW")],
        "k string, v string",
    )
    merge_delta(spark, t, src, key_cols=["k"])
    got = dict(
        (r["k"], r["v"]) for r in read_delta(spark, t).collect()
    )
    assert got[f"{prefix}00042"] == "UP"
    assert got[f"{prefix}99999"] == "NEW"
    assert len(got) == 401


def test_changelog_parity_under_mid_range_compaction(spark, tmp_path):
    """VERDICT r15 #6 property pin: compaction is INVISIBLE to the
    change feed. Apply the same randomized logical edit script to two
    tables; compact one mid-range; the CDF over the full range must be
    IDENTICAL modulo version numbering (dense-ranked — the compaction
    commit emits nothing and shifts later version numbers by one)."""
    import random

    from embeddinghub_spark.sources.delta_log import (
        compact_delta,
        delete_delta,
        merge_delta,
        read_delta_changes,
        write_delta,
    )

    def _mk(seed):
        rng = random.Random(seed)
        script = []
        nxt = [200]

        def _rows(ids):
            return [(i, f"v{i}.{rng.randint(0, 9)}") for i in ids]

        for _ in range(4):
            op = rng.choice(["append", "merge", "delete"])
            if op == "append":
                ids = list(range(nxt[0], nxt[0] + rng.randint(5, 20)))
                nxt[0] += len(ids)
                script.append(("append", _rows(ids)))
            elif op == "merge":
                ids = rng.sample(range(0, nxt[0]), rng.randint(3, 10))
                script.append(("merge", _rows(ids)))
            else:
                lo = rng.randint(0, 150)
                script.append(("delete", (lo, lo + rng.randint(3, 12))))
        return script

    def _apply(t, step):
        kind, arg = step
        if kind == "append":
            write_delta(
                spark.createDataFrame(arg, "id long, v string"),
                t, mode="append",
            )
        elif kind == "merge":
            merge_delta(
                spark, t,
                spark.createDataFrame(arg, "id long, v string"),
                key_cols=["id"],
            )
        else:
            lo, hi = arg
            delete_delta(spark, t, f"id >= {lo} AND id < {hi}")

    def _normalized(t):
        rows = read_delta_changes(
            spark, t, 0, key_cols=["id"]
        ).collect()
        by_v = {}
        for r in rows:
            by_v.setdefault(r["_commit_version"], []).append(
                (r["_change_type"], r["id"], r["v"])
            )
        return [
            sorted(by_v[v]) for v in sorted(by_v)
        ]  # dense-ranked: version numbers drop out

    for seed in (7, 21, 99):
        script = _mk(seed)
        plain = str(tmp_path / f"plain{seed}")
        comp = str(tmp_path / f"comp{seed}")
        base = spark.range(0, 200).selectExpr(
            "id", "concat('v', id, '.0') AS v"
        ).repartitionByRange(4, "id")
        for t in (plain, comp):
            write_delta(base, t)
        when = random.Random(seed ^ 1).randint(1, len(script) - 1)
        for i, step in enumerate(script):
            _apply(plain, step)
            _apply(comp, step)
            if i == when:
                assert compact_delta(spark, comp) is not None
        assert _normalized(plain) == _normalized(comp), (
            f"seed {seed}: changelog diverged under compaction"
        )


def test_delete_delta_mor_writes_deletion_vectors(spark, tmp_path):
    """delete_delta(strategy='mor') (r16): a DV-based DELETE rewrites
    ZERO data files — every touched file re-adds at its same path
    with a Roaring DV of the deleted positions, the protocol upgrades
    to reader 3 / writer 7 with the deletionVectors feature, reads and
    CDF and time travel stay exact, a second MoR delete MERGES with
    the existing DV, and bytes written are DV-sized, not file-sized."""
    import glob

    from embeddinghub_spark.sources.delta_log import (
        delete_delta,
        read_delta_changes,
        write_delta,
    )

    t = str(tmp_path / "mor")
    write_delta(
        spark.range(0, 2000).selectExpr(
            "id", "concat('v', id) AS v"
        ).repartitionByRange(10, "id"),
        t,
    )
    before = delta_snapshot(t)
    parquets_before = sorted(glob.glob(os.path.join(t, "**", "*.parquet"),
                                       recursive=True))

    v1 = delete_delta(spark, t, "id IN (5, 7, 1500)", strategy="mor")
    assert v1 == before["version"] + 1
    after = delta_snapshot(t)
    # ZERO data files rewritten or removed on disk
    assert sorted(glob.glob(os.path.join(t, "**", "*.parquet"),
                            recursive=True)) == parquets_before
    assert {f["path"] for f in after["files"]} == {
        f["path"] for f in before["files"]
    }
    # the touched files carry DV descriptors; bytes written ∝ rows
    dvd = [f for f in after["files"] if f.get("deletionVector")]
    assert 1 <= len(dvd) <= 2
    dv_files = glob.glob(os.path.join(t, "deletion_vector_*.bin"))
    assert len(dv_files) == 1
    assert os.path.getsize(dv_files[0]) < 4096
    # protocol upgraded with the feature listed
    proto = after["protocol"]
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    # reads exact; time travel intact
    got = {r["id"] for r in read_delta(spark, t).collect()}
    assert got == set(range(2000)) - {5, 7, 1500}
    old = {r["id"]
           for r in read_delta(spark, t, version=before["version"]).collect()}
    assert old == set(range(2000))
    # CDF surfaces exactly the deleted rows
    cdf = {(r["id"], r["_change_type"])
           for r in read_delta_changes(spark, t, before["version"],
                                       key_cols=["id"]).collect()}
    assert cdf == {(5, "delete"), (7, "delete"), (1500, "delete")}

    # second MoR delete on the SAME file merges DVs
    v2 = delete_delta(spark, t, "id = 6", strategy="mor")
    assert v2 == v1 + 1
    got2 = {r["id"] for r in read_delta(spark, t).collect()}
    assert got2 == set(range(2000)) - {5, 6, 7, 1500}
    merged = [f for f in delta_snapshot(t)["files"]
              if f.get("deletionVector")
              and f["deletionVector"]["cardinality"] == 3]
    assert len(merged) == 1  # ids 5,6,7 live in one range file

    # no-match MoR delete commits nothing
    assert delete_delta(spark, t, "id = -5", strategy="mor") is None
    # a COW delete still works on the DV'd table (DV rows stay gone)
    v3 = delete_delta(spark, t, "id < 100")
    assert v3 is not None
    got3 = {r["id"] for r in read_delta(spark, t).collect()}
    assert got3 == set(range(100, 2000)) - {1500}
    # mass-delete guard points at cow
    write_delta(
        spark.range(0, 100).selectExpr("id", "concat('x', id) AS v"),
        str(tmp_path / "cap"),
    )
    with pytest.raises(ValueError, match="max_mor_rows"):
        delete_delta(spark, str(tmp_path / "cap"), "id >= 0",
                     strategy="mor", max_mor_rows=10)


def test_delete_delta_mor_keeps_checkpoint_cadence(spark, tmp_path):
    """MoR DELETE commits go through the same commit step as every
    other write, so they keep the ``checkpoint_interval`` cadence: ten
    DV deletes on a fresh table write the version-10 checkpoint, and
    the table replays exactly from it once the JSON commits before it
    are gone."""
    from embeddinghub_spark.sources.delta_log import (
        delete_delta,
        write_delta,
    )

    t = str(tmp_path / "mor_ckpt")
    write_delta(
        spark.range(0, 100).selectExpr("id", "concat('v', id) AS v"), t
    )
    for i in range(10):
        assert delete_delta(spark, t, f"id = {i}", strategy="mor") == i + 1
    log = os.path.join(t, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{10:020d}.checkpoint.parquet"))
    assert json.load(open(os.path.join(log, "_last_checkpoint")))[
        "version"] == 10
    for v in range(10):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = {r["id"] for r in read_delta(spark, t).collect()}
    assert got == set(range(10, 100))


def test_mor_delete_vacuum_and_compaction_interplay(spark, tmp_path):
    """The DV lifecycle around the maintenance ops, on a REAL
    MoR-written table (the prior pins used hand fixtures): vacuum
    keeps a LIVE DV file at zero retention; after a second MoR delete
    supersedes it, the old DV file becomes vacuumable; compaction
    purges DVs (deletes materialize) and reads stay exact."""
    import glob

    from embeddinghub_spark.sources.delta_log import (
        compact_delta,
        delete_delta,
        vacuum_delta,
        write_delta,
    )

    t = str(tmp_path / "morlife")
    write_delta(
        spark.range(0, 1000).selectExpr(
            "id", "concat('v', id) AS v"
        ).repartitionByRange(4, "id"),
        t,
    )
    delete_delta(spark, t, "id = 10", strategy="mor")
    dv1 = set(glob.glob(os.path.join(t, "deletion_vector_*.bin")))
    assert len(dv1) == 1
    # live DV survives a zero-retention vacuum
    gone = vacuum_delta(t, retain_ms=0)
    assert not (dv1 & set(gone)) and all(os.path.exists(p) for p in dv1)

    # a second MoR delete on the same file supersedes the descriptor;
    # the OLD DV file is now unreferenced and vacuums away
    delete_delta(spark, t, "id = 11", strategy="mor")
    gone2 = set(vacuum_delta(t, retain_ms=0))
    assert dv1 <= gone2
    live = set(glob.glob(os.path.join(t, "deletion_vector_*.bin")))
    assert len(live) == 1 and not (live & dv1)
    got = {r["id"] for r in read_delta(spark, t).collect()}
    assert got == set(range(1000)) - {10, 11}

    # compaction materializes the deletes and purges every DV
    assert compact_delta(spark, t) is not None
    snap = delta_snapshot(t)
    assert not any(f.get("deletionVector") for f in snap["files"])
    got2 = {r["id"] for r in read_delta(spark, t).collect()}
    assert got2 == set(range(1000)) - {10, 11}
    # the purged DV file is vacuumable afterwards
    gone3 = set(vacuum_delta(t, retain_ms=0))
    assert live <= gone3


def test_update_delta_mor_row_delta(spark, tmp_path):
    """update_delta(strategy='mor') (r16): the row-delta shape — old
    positions of EXACTLY the matched rows get DVs, their updated
    images land in ONE new small file, everything in one atomic
    commit (two commits would double the updated rows for a
    concurrent reader). Assignments see the PRE-update row; bytes
    written ∝ matched rows; a following MoR delete and a COW pass
    compose."""
    import glob

    from pyspark.sql import functions as F

    from embeddinghub_spark.sources.delta_log import (
        delete_delta,
        update_delta,
        write_delta,
    )

    t = str(tmp_path / "morupd")
    write_delta(
        spark.range(0, 20000).selectExpr(
            "id", "concat('v', id) AS v", "CAST(id % 7 AS DOUBLE) AS w"
        ).repartitionByRange(10, "id"),
        t,
    )
    before = delta_snapshot(t)
    parquets_before = set(glob.glob(os.path.join(t, "*.parquet")))
    tbl_bytes = sum(os.path.getsize(p) for p in parquets_before)

    v1 = update_delta(
        spark, t, "id % 5000 = 0",
        {"v": "concat('w=', CAST(w AS STRING))", "w": F.col("w") * 2},
        strategy="mor",
    )
    assert v1 == before["version"] + 1
    after = delta_snapshot(t)
    # original files all still live (re-added with DVs), ONE new file
    new_files = set(glob.glob(os.path.join(t, "*.parquet"))) - parquets_before
    assert len(new_files) >= 1
    new_bytes = sum(os.path.getsize(p) for p in new_files)
    assert new_bytes < 0.1 * tbl_bytes
    assert {f["path"] for f in before["files"]} <= {
        f["path"] for f in after["files"]
    }
    dvd = [f for f in after["files"] if f.get("deletionVector")]
    assert len(dvd) == 4  # ids 0,500,1000,1500 live in 4 range files
    # assignments saw PRE-update values; untouched rows intact
    rows = {r["id"]: (r["v"], r["w"])
            for r in read_delta(spark, t).collect()}
    assert len(rows) == 20000
    assert rows[5000] == ("w=2.0", 4.0)
    assert rows[10000] == ("w=4.0", 8.0)
    assert rows[0] == ("w=0.0", 0.0)
    assert rows[5001] == ("v5001", 3.0)
    # time travel pre-update intact
    old = {r["id"]: r["v"]
           for r in read_delta(spark, t, version=before["version"]).collect()}
    assert old[5000] == "v5000"
    # a MoR delete composes on top of the update's DVs
    v2 = delete_delta(spark, t, "id = 5000", strategy="mor")
    assert v2 == v1 + 1
    rows2 = {r["id"] for r in read_delta(spark, t).collect()}
    assert rows2 == set(range(20000)) - {5000}
    # and a COW update still works on the MoR'd table
    v3 = update_delta(spark, t, "id = 10000", {"w": F.lit(99.0)})
    assert v3 is not None
    rows3 = {r["id"]: r["w"] for r in read_delta(spark, t).collect()}
    assert rows3[10000] == 99.0 and len(rows3) == 19999


def test_merge_delta_mor_row_delta(spark, tmp_path):
    """merge_delta(strategy='mor') (r16): matched target rows DV'd,
    every source row (update + insert) appended as one new small
    file, one atomic commit — result identical to the COW merge;
    insert-only MoR merge appends with zero DVs."""
    import glob

    from embeddinghub_spark.sources.delta_log import merge_delta, write_delta

    t = str(tmp_path / "mormerge")
    write_delta(
        spark.range(0, 20000).selectExpr(
            "id", "concat('v', id) AS v"
        ).repartitionByRange(10, "id"),
        t,
    )
    before = delta_snapshot(t)
    parquets_before = set(glob.glob(os.path.join(t, "*.parquet")))

    src = spark.createDataFrame(
        [(5, "UP5"), (19998, "UP19998"), (90000, "NEW")],
        "id long, v string",
    )
    v1 = merge_delta(spark, t, src, key_cols=["id"], strategy="mor")
    assert v1 == before["version"] + 1
    after = delta_snapshot(t)
    # originals all live; matched files carry DVs; one new file
    assert {f["path"] for f in before["files"]} <= {
        f["path"] for f in after["files"]
    }
    dvd = [f for f in after["files"] if f.get("deletionVector")]
    assert len(dvd) == 2  # ids 5 and 19998 live in 2 range files
    new_files = set(glob.glob(os.path.join(t, "*.parquet"))) - parquets_before
    assert len(new_files) >= 1
    got = {(r["id"], r["v"]) for r in read_delta(spark, t).collect()}
    expect = {(i, f"v{i}") for i in range(20000) if i not in (5, 19998)}
    expect |= {(5, "UP5"), (19998, "UP19998"), (90000, "NEW")}
    assert got == expect
    # insert-only MoR merge: plain append, no new DVs
    src2 = spark.createDataFrame([(91000, "NEW2")], "id long, v string")
    v2 = merge_delta(spark, t, src2, key_cols=["id"], strategy="mor")
    assert v2 == v1 + 1
    after2 = delta_snapshot(t)
    assert len([f for f in after2["files"]
                if f.get("deletionVector")]) == 2
    assert (91000, "NEW2") in {
        (r["id"], r["v"]) for r in read_delta(spark, t).collect()
    }


def test_mor_dml_on_partitioned_delta_table(spark, tmp_path):
    """MoR DELETE/UPDATE on a hive-PARTITIONED Delta table (r16
    review sweep — the shape the other MoR pins didn't cover): DV'd
    files keep their partitionValues in the re-add, the partition-
    grouped scan applies DVs per group, and updated images restage
    through partitionBy."""
    import glob

    from pyspark.sql import functions as F

    from embeddinghub_spark.sources.delta_log import (
        delete_delta,
        update_delta,
        write_delta,
    )

    t = str(tmp_path / "morpart")
    df = spark.createDataFrame(
        [(i, f"v{i}", "eu" if i % 2 else "us") for i in range(400)],
        "id long, v string, region string",
    )
    write_delta(df, t, partition_by=["region"])
    before = delta_snapshot(t)
    parquets_before = sorted(glob.glob(
        os.path.join(t, "**", "*.parquet"), recursive=True
    ))

    v1 = delete_delta(spark, t, "id IN (3, 4)", strategy="mor")
    assert v1 is not None
    # zero parquet churn; DV'd adds keep their partitionValues
    assert sorted(glob.glob(
        os.path.join(t, "**", "*.parquet"), recursive=True
    )) == parquets_before
    after = delta_snapshot(t)
    dvd = [f for f in after["files"] if f.get("deletionVector")]
    assert {f["partitionValues"]["region"] for f in dvd} == {"eu", "us"}
    got = {r["id"] for r in read_delta(spark, t).collect()}
    assert got == set(range(400)) - {3, 4}
    # partition-pruned read still applies its partition's DV
    eu = {r["id"] for r in read_delta(spark, t).collect()
          if r["region"] == "eu"}
    assert eu == {i for i in range(400) if i % 2} - {3}

    # MoR UPDATE keeps rows in their partitions
    v2 = update_delta(spark, t, "id IN (7, 8)",
                      {"v": F.lit("UP")}, strategy="mor")
    assert v2 == v1 + 1
    rows = {r["id"]: (r["v"], r["region"])
            for r in read_delta(spark, t).collect()}
    assert rows[7] == ("UP", "eu") and rows[8] == ("UP", "us")
    assert rows[9] == ("v9", "eu")
    assert len(rows) == 398
    # updating a PARTITION column still raises toward merge
    with pytest.raises(ValueError, match="partition columns"):
        update_delta(spark, t, "id = 9", {"region": F.lit("apac")},
                     strategy="mor")


def test_mor_update_surfaces_in_change_feed(spark, tmp_path):
    """A MoR UPDATE commit (DV re-adds + one new image file) must
    diff as update_preimage/update_postimage pairs in the CDF — the
    (path, DV-id) file identity pairs the old-DV variant against the
    new-DV variant, and the new image file joins by key."""
    from pyspark.sql import functions as F

    from embeddinghub_spark.sources.delta_log import (
        read_delta_changes,
        update_delta,
        write_delta,
    )

    t = str(tmp_path / "morcdf")
    write_delta(
        spark.range(0, 1000).selectExpr(
            "id", "concat('v', id) AS v"
        ).repartitionByRange(4, "id"),
        t,
    )
    v0 = delta_snapshot(t)["version"]
    update_delta(spark, t, "id IN (10, 600)",
                 {"v": F.lit("UP")}, strategy="mor")
    got = {(r["id"], r["v"], r["_change_type"])
           for r in read_delta_changes(spark, t, v0,
                                       key_cols=["id"]).collect()}
    assert got == {
        (10, "v10", "update_preimage"), (10, "UP", "update_postimage"),
        (600, "v600", "update_preimage"),
        (600, "UP", "update_postimage"),
    }


def test_set_transaction_watermarks(spark, tmp_path):
    """SetTransaction (r16): write_delta(txn=(app, v)) records the
    protocol's idempotent-writer watermark IN the commit; the replay
    tracks the max version per appId; checkpoints carry txn rows —
    plus the protocol's feature lists and the table configuration —
    so post-vacuum replays keep all three (the checkpoint previously
    re-introduced the ADVICE-r15 configuration wipe and stripped
    reader/writer features)."""
    from embeddinghub_spark.sources.delta_log import (
        delete_delta,
        merge_delta,
        write_delta,
        write_delta_checkpoint,
    )

    t = str(tmp_path / "txn")
    write_delta(
        spark.createDataFrame([(1, "a")], "id long, v string"), t,
        txn=("appA", 0),
    )
    write_delta(
        spark.createDataFrame([(2, "b")], "id long, v string"), t,
        mode="append", txn=("appA", 1),
    )
    merge_delta(
        spark, t,
        spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string"),
        key_cols=["id"], strategy="mor", txn=("appB", 7),
    )
    snap = delta_snapshot(t)
    assert snap["txns"] == {"appA": 1, "appB": 7}

    # a MoR delete upgrades the protocol; checkpoint must carry the
    # features + txns + configuration through a vacuumed replay
    delete_delta(spark, t, "id = 1", strategy="mor")
    v = write_delta_checkpoint(t)
    log = os.path.join(t, "_delta_log")
    for f in list(os.listdir(log)):
        if f.endswith(".json") and int(f.split(".")[0]) <= v:
            os.remove(os.path.join(log, f))
    snap2 = delta_snapshot(t)
    assert snap2["txns"] == {"appA": 1, "appB": 7}
    assert "deletionVectors" in snap2["protocol"]["readerFeatures"]
    got = {(r["id"], r["v"]) for r in read_delta(spark, t).collect()}
    assert got == {(2, "B"), (3, "c")}
