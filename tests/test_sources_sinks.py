"""S1/S2/S5/S8/S9, C17/C18, S11 local push, V2 chunk iteration."""

import os
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from embeddinghub_spark.sources.readers import (
    high_watermark,
    read_file,
    read_incremental,
)
from embeddinghub_spark.sources.sinks import (
    atomic_update,
    estimate_row_bytes,
    latest_output_dir,
    online_push_partitions,
    push_online,
    timestamped_output_dir,
    write_csv,
    write_parquet,
)


def test_csv_roundtrip(spark):
    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "s"])
        out = write_csv(df, os.path.join(d, "csv_out"))
        back = read_file(spark, out, "csv")
        assert sorted((r["id"], r["s"]) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_parquet_sink_timestamped_dirs_and_latest(spark):
    with tempfile.TemporaryDirectory() as d:
        base = os.path.join(d, "out")
        df1 = spark.createDataFrame([(1,)], ["v"])
        df2 = spark.createDataFrame([(2,)], ["v"])
        p1 = write_parquet(df1, base)
        p2 = write_parquet(df2, base)
        assert p1 != p2
        assert latest_output_dir(base) == max(p1, p2)
        assert spark.read.parquet(latest_output_dir(base)).collect()[0]["v"] == 2


def test_atomic_update_swaps(spark):
    with tempfile.TemporaryDirectory() as d:
        target = os.path.join(d, "t")
        atomic_update(spark.createDataFrame([(1,)], ["v"]), target)
        assert spark.read.parquet(target).collect()[0]["v"] == 1
        atomic_update(spark.createDataFrame([(2,)], ["v"]), target)
        assert spark.read.parquet(target).collect()[0]["v"] == 2
        assert not [p for p in os.listdir(d) if "old" in p]  # backup cleaned


def test_incremental_watermark(spark):
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (2, datetime(2024, 1, 2)), (3, datetime(2024, 1, 3))],
        ["id", "ts"],
    )
    wm = high_watermark(df.filter("id <= 2"), "ts")
    assert wm == datetime(2024, 1, 2)
    inc = read_incremental(df, "ts", wm)
    assert [r["id"] for r in inc.collect()] == [3]
    assert read_incremental(df, "ts", None).count() == 3


def test_incremental_path_nanos_boundary(spark, tmp_path):
    """A row whose nanos lie in (wm, wm+999] passes the raw int64
    pruning filter but truncates to exactly the watermark microsecond —
    it must NOT appear in the returned frame (`ts > last_run_ts` is a
    strict inequality at Spark's microsecond precision; re-including
    the boundary row means duplicate processing on every run whose
    watermark came from high_watermark())."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from embeddinghub_spark.sources.readers import read_incremental_path

    import calendar

    wm = datetime(2024, 1, 2)
    wm_ns = calendar.timegm(wm.timetuple()) * 1_000_000_000
    path = str(tmp_path / "ns_events.parquet")
    table = pa.table(
        {
            "id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array(
                [wm_ns - 1_000_000_000, wm_ns + 500, wm_ns + 1_500, wm_ns + 1_000_000_000],
                pa.timestamp("ns"),
            ),
        }
    )
    pq.write_table(table, path)
    inc = read_incremental_path(spark, path, "ts", wm)
    # id=2 (wm+500ns) truncates to the watermark → excluded;
    # id=3 (wm+1500ns) truncates to wm+1us → included
    assert sorted(r["id"] for r in inc.collect()) == [3, 4]


def test_online_push_local_and_sizing(spark):
    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["entity", "value"])
    snap = push_online(df)
    assert snap["a"]["value"] == 1.0
    rb = estimate_row_bytes(df)
    assert rb == 50 + 8  # string + double
    assert online_push_partitions(1, rb) == 1
    assert online_push_partitions(10_000_000, 128) >= 9


def test_timestamped_dir_format():
    d = timestamped_output_dir("/tmp/base")
    name = os.path.basename(d)
    # yyyy-MM-dd-HH-mm-ss-SSSSSS (runner :897-901)
    parts = name.split("-")
    assert len(parts) == 7
    assert len(parts[-1]) == 6


def test_c17_transformation_as_table(spark):
    # C17: persist a transformation as a (temp) table and re-query it
    df = spark.createDataFrame([(1, "x")], ["id", "s"])
    df.createOrReplaceTempView("c17_out")
    assert spark.table("c17_out").count() == 1


def test_read_table_catalog_and_fmt_fallback(spark, tmp_path):
    """S3/S4: catalog-table source resolves through the session
    catalog; a delta/iceberg fmt hint degrades gracefully to the
    session catalog when the connector isn't installed."""
    from embeddinghub_spark.catalog import Catalog, SourceVariant
    from embeddinghub_spark.sources.readers import read_table
    from embeddinghub_spark.sources.tables import create_table_as

    spark.sql("DROP TABLE IF EXISTS t_s34_test")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "s"])
    create_table_as(df, "t_s34_test", path=str(tmp_path / "s34"))
    assert read_table(spark, "t_s34_test").count() == 2
    # fmt hint without connector: falls back, still resolves
    assert read_table(spark, "t_s34_test", fmt="delta").count() == 2
    assert read_table(spark, "t_s34_test", fmt="iceberg").count() == 2
    cat = Catalog(spark)
    cat.register_source(SourceVariant(name="t34", variant="v1", table="t_s34_test"))
    assert cat.dataframe("t34", "v1").count() == 2
    spark.sql("DROP TABLE IF EXISTS t_s34_test")


def test_push_online_distributed_writer(spark, tmp_path):
    """S11 distributed path: foreachPartition writers run on executors
    (separate Python workers — driver dict mutations would be lost),
    so drive a real store shape: each partition writer appends its
    rows to the shared store (filesystem stand-in for the KV API);
    the union of writes must equal the snapshot exactly."""
    import glob
    import json
    import os
    import uuid

    from embeddinghub_spark.sources.sinks import push_online

    store_dir = str(tmp_path / "kv")
    os.makedirs(store_dir, exist_ok=True)
    df = spark.createDataFrame(
        [(f"e{i}", float(i)) for i in range(500)], ["entity", "value"]
    )

    def writer(rows):
        batch = [(r["entity"], r["value"]) for r in rows]
        if not batch:
            return
        path = os.path.join(store_dir, f"batch-{uuid.uuid4().hex}.json")
        with open(path, "w") as f:
            json.dump(batch, f)

    push_online(df, writer=writer)
    got = {}
    for path in glob.glob(os.path.join(store_dir, "batch-*.json")):
        with open(path) as f:
            for k, v in json.load(f):
                assert k not in got, "entity written twice across partitions"
                got[k] = v
    assert got == {f"e{i}": float(i) for i in range(500)}


def test_incremental_overwrite_detection(spark, tmp_path):
    """S5 append-only contract: a shrunk source or a regressed
    watermark between runs raises OverwriteDetected instead of
    silently never re-delivering the rewritten range."""
    from embeddinghub_spark.sources.readers import (
        OverwriteDetected,
        check_incremental_state,
        incremental_run_state,
    )

    t = [datetime(2024, 1, d) for d in (1, 2, 3)]
    v1 = spark.createDataFrame([(1, t[0]), (2, t[1])], ["id", "ts"])
    state = incremental_run_state(v1, "ts")
    assert state["row_count"] == 2

    # append-only growth: fine, state advances
    v2 = spark.createDataFrame([(1, t[0]), (2, t[1]), (3, t[2])], ["id", "ts"])
    state = check_incremental_state(v2, "ts", state)
    assert state["row_count"] == 3

    # overwrite that dropped rows
    shrunk = spark.createDataFrame([(9, t[2])], ["id", "ts"])
    with pytest.raises(OverwriteDetected):
        check_incremental_state(shrunk, "ts", state)

    # same count, older data (rewritten history)
    rewound = spark.createDataFrame(
        [(1, t[0]), (2, t[0]), (3, t[1])], ["id", "ts"]
    )
    with pytest.raises(OverwriteDetected):
        check_incremental_state(rewound, "ts", state)


def test_atomic_update_time_travel(spark, tmp_path):
    from embeddinghub_spark.sources.sinks import (
        atomic_update,
        list_versions,
        read_version,
    )

    target = str(tmp_path / "snap")
    for i in range(4):
        df = spark.createDataFrame([(i,)], ["v"])
        atomic_update(df, target, keep_versions=3)

    assert len(list_versions(target)) == 3  # retention honored
    # steps_back walks the retained history newest -> oldest
    assert read_version(spark, target, 0).collect()[0]["v"] == 3
    assert read_version(spark, target, 1).collect()[0]["v"] == 2
    assert read_version(spark, target, 2).collect()[0]["v"] == 1
    # current symlink still points at the newest
    assert spark.read.parquet(target).collect()[0]["v"] == 3
    try:
        read_version(spark, target, 3)
        raise AssertionError("expected ValueError past retention")
    except ValueError:
        pass


def test_atomic_update_crashed_writer_orphan(spark, tmp_path):
    """A writer that dies after the parquet write but before the
    symlink swap must not surface as a version, must not be counted
    by retention, and must be garbage-collected by the next update."""
    import os

    from embeddinghub_spark.sources.sinks import (
        _write_lineage,
        atomic_update,
        list_versions,
        read_version,
    )

    target = str(tmp_path / "snap")
    atomic_update(spark.createDataFrame([(1,)], ["v"]), target, keep_versions=2)
    atomic_update(spark.createDataFrame([(2,)], ["v"]), target, keep_versions=2)

    # simulate the crash: parquet + lineage written, symlink never swapped
    orphan = target + ".v-deadbeef"
    spark.createDataFrame([(99,)], ["v"]).write.parquet(orphan)
    _write_lineage(orphan, os.path.realpath(target))

    # the orphan is newest by mtime but must be invisible to readers
    vs = list_versions(target)
    assert orphan not in vs and len(vs) == 2
    assert read_version(spark, target, 0).collect()[0]["v"] == 2
    assert read_version(spark, target, 1).collect()[0]["v"] == 1

    # next committed update GCs the orphan and keeps the committed tail
    atomic_update(spark.createDataFrame([(3,)], ["v"]), target, keep_versions=2)
    assert not os.path.isdir(orphan)
    assert read_version(spark, target, 0).collect()[0]["v"] == 3
    assert read_version(spark, target, 1).collect()[0]["v"] == 2


def test_compact_dir_merges_small_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from embeddinghub_spark.sources.sinks import compact_dir, dir_bytes

    src = str(tmp_path / "smalls")
    # 64 tiny files — the streaming-accretion pathology
    spark.range(10_000).withColumn("v", F.col("id") * 2).repartition(
        64
    ).write.parquet(src)
    n_before = len(
        [f for f in os.listdir(src) if f.endswith(".parquet")]
    )
    assert n_before == 64
    assert dir_bytes(spark, src) > 0

    out = compact_dir(spark, src, str(tmp_path / "compacted"), target_mb=128)
    n_after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_after == 1  # well under 128 MB -> one file
    # data survives byte-for-byte
    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(out).orderBy("id").collect()
    assert a == b


def test_write_jsonl_shards_roundtrip_and_sizing(spark, tmp_path):
    """JSONL export: every row round-trips through spark.read.json,
    shards are gzip'd, and the shard count tracks the measured line
    size (a ~3 MB corpus at target_mb=1 splits into ~3 level files)."""
    from pyspark.sql import functions as F

    from embeddinghub_spark.sources.sinks import write_jsonl_shards

    df = (
        spark.range(3000)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("tok "), F.expr("repeat('abcdefghi ', 100)"))
            .alias("text"),
        )
    )
    out = write_jsonl_shards(
        df, str(tmp_path / "jsonl"), target_mb=1, compression=None
    )
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    assert 2 <= len(files) <= 5  # ~3 MB serialized at 1 MB target
    back = spark.read.json(out)
    assert back.count() == 3000
    assert set(back.columns) == {"doc_id", "text"}
    assert (
        back.join(df, "doc_id")
        .filter(back["text"] != df["text"])
        .count()
        == 0
    )

    gz = write_jsonl_shards(df.limit(10), str(tmp_path / "jsonl_gz"))
    assert any(f.endswith(".gz") for f in os.listdir(gz))
    assert spark.read.json(gz).count() == 10


def test_erase_entities_purges_history(spark, tmp_path):
    """Erasure removes the entities from the current version AND
    purges the superseded versions holding their data (keep_versions
    defaults to 1); NULL-keyed rows survive a list-based erase; the
    DataFrame-key path matches."""
    from embeddinghub_spark.sources.sinks import (
        atomic_update,
        erase_entities,
        list_versions,
        read_version,
    )

    target = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (None, "n")], ["ent", "v"]
    )
    atomic_update(df, target)
    atomic_update(df, target)  # two versions on disk
    assert len(list_versions(target)) == 2

    erase_entities(spark, target, "ent", [2, 3])
    cur = {(r["ent"], r["v"]) for r in read_version(spark, target, 0).collect()}
    assert cur == {(1, "a"), (None, "n")}
    # history holding the erased rows is gone
    assert len(list_versions(target)) == 1

    kdf = spark.createDataFrame([(1,)], ["k"])
    erase_entities(spark, target, "ent", kdf)
    cur = {(r["ent"], r["v"]) for r in read_version(spark, target, 0).collect()}
    assert cur == {(None, "n")}

    import pytest
    with pytest.raises(ValueError):
        erase_entities(spark, target, "ent", [])


def test_jsonl_sizing_sample_spans_partitions(spark, tmp_path):
    """ADVICE r6 pin: the shard-sizing sample takes the head of EVERY
    partition, not partition 0's head. Partition 0 holds short lines
    and partition 1 holds ~100× longer lines (range-partitioned by
    id); a partition-0-only sample would estimate ~1 shard where the
    true serialized size wants ~4."""
    from pyspark.sql import functions as F

    from embeddinghub_spark.sources.sinks import write_jsonl_shards

    short = spark.range(0, 1000).select(
        F.col("id"), F.lit("x").alias("text")
    )
    long = spark.range(1000, 2000).select(
        F.col("id"), F.expr("repeat('abcdefghi ', 400)").alias("text")
    )
    df = short.unionByName(long).repartitionByRange(2, "id")
    out = write_jsonl_shards(
        df, str(tmp_path / "skewed"), target_mb=1, compression=None,
        sample_rows=200,
    )
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    # true size ≈ 1000 × 4 KB ≈ 4 MB → ≥3 shards at 1 MB; the
    # partition-0-biased estimate (≈60 B/line × 2000 ≈ 0.12 MB) says 1
    assert len(files) >= 3, f"sizing sample is partition-biased: {files}"
    assert spark.read.json(out).count() == 2000


def test_erasure_plan_does_not_force_broadcast(spark):
    """ADVICE r6 pin: the DataFrame-key erasure path must not carry a
    broadcast hint — a deletion list can be arbitrarily large, and a
    forced broadcast OOMs the driver. AQE still broadcasts small key
    tables on its own; the plan just can't DEMAND it."""
    from embeddinghub_spark.sources.sinks import _erasure_plan

    cur = spark.range(100).selectExpr("id AS ent", "id * 2 AS v")
    keys = spark.range(10).selectExpr("id AS k")
    kept = _erasure_plan(cur, "ent", keys)
    analyzed = kept._jdf.queryExecution().analyzed().toString()
    assert "hint" not in analyzed.lower(), analyzed
    assert kept.count() == 90


def test_orc_roundtrip_and_zstd_parquet(spark, tmp_path):
    """ORC reads through the same S1/S2 entry point (Spark-native, no
    connector), and the parquet sink's zstd override produces
    readable, codec-tagged files."""
    from embeddinghub_spark.sources.sinks import write_parquet

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "s"])
    orc_dir = str(tmp_path / "orc")
    df.write.orc(orc_dir)
    back = read_file(spark, orc_dir, "orc")
    assert sorted((r["id"], r["s"]) for r in back.collect()) == [
        (1, "a"), (2, "b"),
    ]

    out = write_parquet(df, str(tmp_path / "pq"), compression="zstd")
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert files and all(".zstd." in f for f in files)
    assert spark.read.parquet(out).count() == 2


def test_atomic_update_sweeps_stale_temp_link(spark, tmp_path):
    """A crash between the temp-link ``os.symlink`` and the
    ``os.replace`` of a refresh leaves a ``.link-*`` symlink beside the
    target; the next successful update must remove it (it is referenced
    by nothing and would otherwise leak forever)."""
    target = str(tmp_path / "feat")
    atomic_update(spark.createDataFrame([(1,)], ["v"]), target)
    stale = target + ".link-deadbeef"
    os.symlink(os.path.realpath(target), stale)
    atomic_update(spark.createDataFrame([(2,)], ["v"]), target)
    assert not os.path.lexists(stale), "stale temp link leaked"
    assert spark.read.parquet(target).collect()[0]["v"] == 2
    assert not [n for n in os.listdir(str(tmp_path)) if ".link-" in n]
