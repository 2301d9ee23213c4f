"""C17 CTAS, S10 create-or-replace, S12 MERGE upsert (table + dir),
and the C20 distributed streaming snapshot built on them."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from embeddinghub_spark.catalog import Catalog
from embeddinghub_spark.operators.materialize import materialize
from embeddinghub_spark.sources.tables import (
    create_or_replace_table,
    create_table_as,
    merge_materialization_dir,
    merge_upsert_df,
    merge_upsert_dir,
    merge_upsert_table,
)


@pytest.fixture
def seg_df(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)], ["id", "seg", "val"]
    )


def test_create_table_as_and_read_back(spark, seg_df, tmp_path):
    name = "t_ctas_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    create_table_as(seg_df, name, path=str(tmp_path / "ctas"))
    back = spark.table(name)
    assert back.count() == 3
    assert set(back.columns) == {"id", "seg", "val"}
    # CTAS is CREATE, not REPLACE: second create errors
    with pytest.raises(Exception):
        create_table_as(seg_df, name, path=str(tmp_path / "ctas2"))
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_create_or_replace_table(spark, seg_df, tmp_path):
    name = "t_cor_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    create_or_replace_table(seg_df, name, path=str(tmp_path / "v1"))
    assert spark.table(name).count() == 3
    create_or_replace_table(seg_df.limit(1), name, path=str(tmp_path / "v2"))
    assert spark.table(name).count() == 1
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_catalog_transformation_as_table(spark, sf_dir, tmp_path):
    cat = Catalog(spark)
    cat.register_file("orders", "default", os.path.join(sf_dir, "orders.parquet"))
    cat.sql_transformation(
        "big_orders", "v1",
        "SELECT o_orderkey, o_totalprice FROM {{orders.default}} WHERE o_totalprice > 100000",
    )
    spark.sql("DROP TABLE IF EXISTS big_orders__v1")
    tbl = cat.create_transformation_table(
        "big_orders", "v1", path=str(tmp_path / "big_orders")
    )
    back = spark.table(tbl)
    assert back.count() == cat.dataframe("big_orders", "v1").count()
    # registered back as a primary source readable by downstream SQL
    cat.sql_transformation(
        "downstream", "v1", f"SELECT COUNT(*) AS n FROM {{{{{tbl}.v1}}}}"
    )
    assert cat.dataframe("downstream", "v1").collect()[0]["n"] == back.count()
    spark.sql("DROP TABLE IF EXISTS big_orders__v1")


def test_merge_upsert_df(spark):
    target = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], ["entity", "value"]
    )
    source = spark.createDataFrame(
        [("b", 20.0), ("d", 40.0)], ["entity", "value"]
    )
    merged = {r["entity"]: r["value"] for r in merge_upsert_df(target, source, ["entity"]).collect()}
    assert merged == {"a": 1.0, "b": 20.0, "c": 3.0, "d": 40.0}


def test_merge_upsert_table_parquet_fallback(spark, tmp_path):
    name = "t_merge_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    base = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["entity", "value"])
    create_table_as(base, name, path=str(tmp_path / "merge_base"))
    updates = spark.createDataFrame([("b", 20.0), ("c", 30.0)], ["entity", "value"])
    merge_upsert_table(spark, name, updates, ["entity"])
    got = {r["entity"]: r["value"] for r in spark.table(name).collect()}
    assert got == {"a": 1.0, "b": 20.0, "c": 30.0}
    # second merge: table swap left a working table behind
    merge_upsert_table(
        spark, name, spark.createDataFrame([("a", 9.0)], ["entity", "value"]), ["entity"]
    )
    assert {r["entity"]: r["value"] for r in spark.table(name).collect()}["a"] == 9.0
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_merge_upsert_dir(spark, tmp_path):
    target = str(tmp_path / "snap")
    first = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["entity", "value"])
    merge_upsert_dir(spark, target, first, ["entity"])
    assert {r["entity"] for r in spark.read.parquet(target).collect()} == {"a", "b"}
    second = spark.createDataFrame([("b", 20.0), ("c", 30.0)], ["entity", "value"])
    merge_upsert_dir(spark, target, second, ["entity"])
    got = {r["entity"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert got == {"a": 1.0, "b": 20.0, "c": 30.0}


def test_merge_materialization_newest_wins(spark, tmp_path):
    target = str(tmp_path / "mat")
    from datetime import datetime

    t1, t2 = datetime(2024, 1, 1), datetime(2024, 1, 2)
    first = spark.createDataFrame([("a", 1.0, t2), ("b", 2.0, t1)], ["entity", "value", "ts"])
    merge_materialization_dir(spark, target, first)
    # stale update for a (t1 < t2) must NOT win; fresh update for b must
    updates = spark.createDataFrame([("a", 99.0, t1), ("b", 20.0, t2)], ["entity", "value", "ts"])
    merge_materialization_dir(spark, target, updates)
    got = {r["entity"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert got == {"a": 1.0, "b": 20.0}
    # idempotent: replaying the same update changes nothing
    merge_materialization_dir(spark, target, updates)
    got2 = {r["entity"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert got2 == got


def test_streaming_materialize_to_dir_equals_batch(spark, tmp_path):
    """C20 parity bar on disk: stream snapshot ≡ batch C3, multi-batch."""
    from embeddinghub_spark.streaming.stream_materialize import (
        streaming_materialize_to_dir,
    )

    rows = [
        (f"u{i % 7}", float(i), __import__("datetime").datetime(2024, 1, 1 + i % 20))
        for i in range(200)
    ]
    src = spark.createDataFrame(rows, ["entity", "value", "ts"])
    in_dir = str(tmp_path / "stream_in")
    # several input files → several micro-batches with maxFilesPerTrigger
    src.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    target = str(tmp_path / "stream_snap")
    q = streaming_materialize_to_dir(
        stream, target, checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120), "stream did not terminate in 120s"
    from embeddinghub_spark.sources.tables import read_bucketed_snapshot

    expected = {
        r["entity"]: r["value"] for r in materialize(src).collect()
    }
    got = {
        r["entity"]: r["value"]
        for r in read_bucketed_snapshot(spark, target).collect()
    }
    assert got == expected


def _bucket_links(target):
    version = os.path.realpath(target)
    return {
        name: os.path.realpath(os.path.join(version, name))
        for name in os.listdir(version)
        if name.startswith("bucket=")
    }


def _delta_layers(target):
    version = os.path.realpath(target)
    return [n for n in os.listdir(version) if n.startswith("_delta-")]


def test_bucketed_merge_append_write_amplification(spark, tmp_path):
    """The LSM C20 merge bounds write amplification: a batch touching
    one entity APPENDS a delta layer — zero base buckets rewritten,
    every base dir the SAME physical path across the commit — and the
    merged read still matches batch C3 semantics."""
    import datetime as dt

    from embeddinghub_spark.sources.tables import (
        merge_materialization_bucketed_dir,
        read_bucketed_snapshot,
    )

    target = str(tmp_path / "snap")
    rows = [
        (f"u{i}", float(i), dt.datetime(2024, 1, 1 + i % 20)) for i in range(200)
    ]
    base = spark.createDataFrame(rows, ["entity", "value", "ts"])
    merge_materialization_bucketed_dir(spark, target, base, n_buckets=8)

    before = _bucket_links(target)
    assert len(before) > 1  # entities spread over several buckets
    assert _delta_layers(target) == []

    upd = spark.createDataFrame(
        [("u3", 999.0, dt.datetime(2025, 1, 1))], ["entity", "value", "ts"]
    )
    merge_materialization_bucketed_dir(spark, target, upd)

    assert _bucket_links(target) == before, "append must not rewrite base"
    assert len(_delta_layers(target)) == 1

    got = {
        r["entity"]: r["value"]
        for r in read_bucketed_snapshot(spark, target).collect()
    }
    expected = {
        r["entity"]: r["value"]
        for r in materialize(base.unionByName(upd)).collect()
    }
    assert got == expected

    # stale update must not win; replay must converge (idempotent)
    stale = spark.createDataFrame(
        [("u3", -1.0, dt.datetime(2020, 1, 1))], ["entity", "value", "ts"]
    )
    merge_materialization_bucketed_dir(spark, target, stale)
    merge_materialization_bucketed_dir(spark, target, upd)
    got2 = {
        r["entity"]: r["value"]
        for r in read_bucketed_snapshot(spark, target).collect()
    }
    assert got2 == expected


def test_bucketed_merge_compaction_rewrites_touched_only(spark, tmp_path):
    """Compaction folds pending deltas into the base, rewriting ONLY
    the touched buckets; untouched base dirs are carried over as the
    same physical paths, and no delta layers remain."""
    import datetime as dt

    from embeddinghub_spark.sources.tables import (
        merge_materialization_bucketed_dir,
        read_bucketed_snapshot,
    )

    target = str(tmp_path / "snap")
    rows = [
        (f"u{i}", float(i), dt.datetime(2024, 1, 1 + i % 20)) for i in range(200)
    ]
    base = spark.createDataFrame(rows, ["entity", "value", "ts"])
    merge_materialization_bucketed_dir(spark, target, base, n_buckets=8)
    before = _bucket_links(target)

    upd = spark.createDataFrame(
        [("u3", 999.0, dt.datetime(2025, 1, 1))], ["entity", "value", "ts"]
    )
    # max_deltas=1 → the appended layer compacts immediately
    merge_materialization_bucketed_dir(spark, target, upd, max_deltas=1)

    after = _bucket_links(target)
    assert _delta_layers(target) == []
    changed = {k for k in before if after.get(k) != before[k]}
    assert len(changed) == 1, f"expected 1 rewritten bucket, got {changed}"

    got = {
        r["entity"]: r["value"]
        for r in read_bucketed_snapshot(spark, target).collect()
    }
    expected = {
        r["entity"]: r["value"]
        for r in materialize(base.unionByName(upd)).collect()
    }
    assert got == expected


def test_bucketed_point_lookup_reads_one_bucket(spark, tmp_path):
    """bucket_of (zlib.crc32) must agree with the Spark-side bucket
    expression: a point lookup through read_snapshot_bucket scans one
    bucket dir and still finds every key."""
    import datetime as dt

    from embeddinghub_spark.sources.tables import (
        merge_materialization_bucketed_dir,
        read_snapshot_bucket,
    )

    target = str(tmp_path / "snap")
    rows = [
        (f"user_{i}", float(i), dt.datetime(2024, 1, 1)) for i in range(50)
    ] + [(i, float(i), dt.datetime(2024, 1, 1)) for i in range(900, 950)]
    df = spark.createDataFrame(
        [(str(e), v, t) for e, v, t in rows], ["entity", "value", "ts"]
    )
    merge_materialization_bucketed_dir(spark, target, df, n_buckets=8)
    for key in ["user_0", "user_17", "user_49", "902", "949"]:
        hit = read_snapshot_bucket(spark, target, key).collect()
        assert len(hit) == 1 and hit[0]["entity"] == key
    assert read_snapshot_bucket(spark, target, "missing_key").count() == 0


def test_branch_observability_and_merge_sql(spark, tmp_path):
    """Connector-gated branches must never fall back silently: the
    branch actually taken is recorded, and the MERGE INTO statement
    the (env-absent) connector branch would run is well-formed."""
    from embeddinghub_spark.observability import last_branch
    from embeddinghub_spark.sources.readers import read_table
    from embeddinghub_spark.sources.tables import (
        build_merge_into_sql,
        create_or_replace_table,
        merge_upsert_table,
    )

    df = spark.createDataFrame([("a", 1.0)], ["entity", "value"])
    create_or_replace_table(
        df, "obs_tbl", path=str(tmp_path / "obs_tbl")
    )
    # no v2 catalog in this env → the fallback must be RECORDED
    assert last_branch("create_or_replace_table") == "saveAsTable_overwrite"

    read_table(spark, "obs_tbl", fmt="iceberg")
    assert last_branch("read_table") == "session_catalog"

    upd = spark.createDataFrame([("a", 2.0), ("b", 3.0)], ["entity", "value"])
    merge_upsert_table(spark, "obs_tbl", upd, ["entity"])
    assert last_branch("merge_upsert_table") == "rebuild_swap"

    sql = build_merge_into_sql(
        "`cat`.`tgt`", "src_view", ["entity"], ["entity", "value", "ts"]
    )
    assert sql == (
        "MERGE INTO `cat`.`tgt` t USING src_view s ON t.`entity` = s.`entity` "
        "WHEN MATCHED THEN UPDATE SET t.`value` = s.`value`, t.`ts` = s.`ts` "
        "WHEN NOT MATCHED THEN INSERT (`entity`, `value`, `ts`) "
        "VALUES (s.`entity`, s.`value`, s.`ts`)"
    )
    spark.sql("DROP TABLE IF EXISTS obs_tbl")


def test_bucketed_merge_many_batches_compaction_cycles(spark, tmp_path):
    """Sustained streaming shape: 10 batches with max_deltas=3 →
    compaction fires repeatedly, pending layers stay bounded, and the
    final merged view equals batch C3 over everything."""
    import datetime as dt

    from embeddinghub_spark.sources.tables import (
        merge_materialization_bucketed_dir,
        read_bucketed_snapshot,
    )

    target = str(tmp_path / "snap")
    t0 = dt.datetime(2024, 1, 1)
    all_rows = []
    for b in range(10):
        rows = [
            (f"u{(b * 3 + i) % 20}", float(b * 100 + i),
             t0 + dt.timedelta(hours=b, minutes=i))
            for i in range(12)
        ]
        all_rows += rows
        merge_materialization_bucketed_dir(
            spark,
            target,
            spark.createDataFrame(rows, ["entity", "value", "ts"]),
            n_buckets=8,
            max_deltas=3,
        )
        assert len(_delta_layers(target)) < 3  # compaction keeps layers bounded

    full = spark.createDataFrame(all_rows, ["entity", "value", "ts"])
    expected = {r["entity"]: r["value"] for r in materialize(full).collect()}
    got = {
        r["entity"]: r["value"]
        for r in read_bucketed_snapshot(spark, target).collect()
    }
    assert got == expected


def test_bucketed_merge_prunes_unreferenced_physical_dirs(spark, tmp_path):
    """Commits prune physical dirs not referenced by the current or
    previous version — storage does not grow without bound, and an
    orphaned write dir (simulated crash before commit) is cleaned on
    the next successful commit."""
    import datetime as dt

    from embeddinghub_spark.sources.tables import (
        merge_materialization_bucketed_dir,
    )

    target = str(tmp_path / "snap")
    t0 = dt.datetime(2024, 1, 1)

    def batch(b):
        return spark.createDataFrame(
            [(f"u{i}", float(b * 10 + i), t0 + dt.timedelta(hours=b))
             for i in range(20)],
            ["entity", "value", "ts"],
        )

    merge_materialization_bucketed_dir(spark, target, batch(0), n_buckets=4)
    store = target + ".b"
    # orphan: a write dir with no version referencing it (crashed commit)
    orphan = os.path.join(store, "w-deadbeef")
    os.makedirs(os.path.join(orphan, "bucket=0"))
    with open(os.path.join(orphan, "bucket=0", "junk.parquet"), "w") as fh:
        fh.write("crash leftover")

    for b in range(1, 6):
        merge_materialization_bucketed_dir(
            spark, target, batch(b), max_deltas=2
        )
    assert not os.path.exists(orphan), "orphaned write dir must be pruned"
    # grace window: at most the current + previous versions exist
    import glob

    versions = glob.glob(target + ".v-*")
    assert len(versions) <= 2


def test_bucketed_merge_custom_column_names_compact(spark, tmp_path):
    """Custom input column names must survive the whole LSM lifecycle
    (append AND compaction read normalized on-disk layers; regression
    for a crash found in review)."""
    import datetime as dt

    from embeddinghub_spark.sources.tables import (
        merge_materialization_bucketed_dir,
        read_bucketed_snapshot,
    )

    target = str(tmp_path / "snap")
    t0 = dt.datetime(2024, 1, 1)
    for b in range(3):
        rows = [
            (f"u{i}", float(b * 10 + i), t0 + dt.timedelta(hours=b))
            for i in range(10)
        ]
        df = spark.createDataFrame(rows, ["user_id", "v", "event_ts"])
        merge_materialization_bucketed_dir(
            spark, target, df,
            entity_col="user_id", value_col="v", ts_col="event_ts",
            n_buckets=4, max_deltas=1,  # compaction every batch
        )
    got = {r["entity"]: r["value"] for r in read_bucketed_snapshot(spark, target).collect()}
    assert got == {f"u{i}": 20.0 + i for i in range(10)}


def test_snapshot_diff_classes_and_null_safety(spark):
    """added/removed/changed classification; NULL->value counts as
    changed (null-safe compare); unchanged rows are omitted."""
    from embeddinghub_spark.sources.tables import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        ["k", "s", "v"],
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "cc", 30.0), (5, "e", 50.0)],
        ["k", "s", "v"],
    )
    out = {r["k"]: r["change"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {2: "changed", 3: "changed", 4: "removed", 5: "added"}


def test_schema_diff_reports_evolution(spark):
    from embeddinghub_spark.sources.tables import schema_diff

    old = spark.createDataFrame([(1, "x", 1.0)], ["k", "s", "v"])
    new = spark.createDataFrame([(1, 2, True)], ["k", "s", "flag"])
    out = {d["column"]: d for d in schema_diff(old, new)}
    assert out["s"]["change"] == "type_changed"
    assert out["s"]["old_type"] == "string" and out["s"]["new_type"] == "bigint"
    assert out["flag"]["change"] == "added"
    assert out["v"]["change"] == "removed"
    assert schema_diff(old, old) == []


def test_snapshot_diff_null_key_presence(spark):
    """A null-keyed row never equi-matches, but presence still
    classifies it correctly: old-only -> removed, new-only -> added."""
    from embeddinghub_spark.sources.tables import snapshot_diff

    old = spark.createDataFrame([(None, 1.0), (1, 2.0)], ["k", "v"])
    new = spark.createDataFrame([(None, 3.0), (1, 2.0)], ["k", "v"])
    out = [
        (r["k"], r["change"]) for r in snapshot_diff(old, new, ["k"]).collect()
    ]
    assert sorted(out, key=str) == [(None, "added"), (None, "removed")]


def test_connector_probe_reports_classpath(spark):
    """The probe answers for all three connectors without side
    effects, memoizes per session, and — in this sandbox — reports
    the documented absences (if an environment ever adds the JARs,
    test_real_connector_paths below starts running automatically)."""
    from embeddinghub_spark.sources.connectors import connector_support

    sup = connector_support(spark)
    assert set(sup) == {"delta", "iceberg", "kafka"}
    assert all(isinstance(v, bool) for v in sup.values())
    assert connector_support(spark) is sup  # memoized


def test_real_connector_paths(spark, tmp_path):
    """Runs ONLY where a Delta/Iceberg connector JAR is present: the
    primary (non-fallback) S10 createOrReplace and S12 MERGE INTO
    branches against a real catalog (runner :920-949, :688-765).
    Skipped in JAR-less sandboxes; the fallback branches stay pinned
    by the tests above."""
    from embeddinghub_spark.sources.connectors import connector_support
    from embeddinghub_spark.sources.tables import (
        create_or_replace_table,
        merge_upsert_table,
    )

    sup = connector_support(spark)
    if not (sup["delta"] or sup["iceberg"]):
        pytest.skip("no Delta/Iceberg connector JAR on this classpath")
    fmt = "delta" if sup["delta"] else "iceberg"
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    tbl = "eh_conn_probe_tbl"
    create_or_replace_table(df, tbl, fmt=fmt)
    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    merge_upsert_table(spark, tbl, upd, ["k"], fmt=fmt)
    out = {r["k"]: r["v"] for r in spark.table(tbl).collect()}
    assert out == {1: "a", 2: "B", 3: "c"}
    from embeddinghub_spark.observability import last_branch

    assert last_branch("merge_upsert_table") == "merge_into"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_colocated_join_has_no_exchange_and_matches_plain(spark, sf_dir):
    from pyspark.sql import functions as F

    from embeddinghub_spark.sources.tables import colocated_join

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("custkey"), "c_acctbal"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(
            cust, orders, ["custkey"], n_buckets=8, base_name="t_coloc"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket metadata replaces the shuffle
        want = cust.join(orders, "custkey")
        assert joined.count() == want.count()
        assert joined.exceptAll(want).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_write_bucketed_table_clears_stale_db_qualified_location(spark):
    """Stale-location cleanup must resolve the path the CATALOG would
    use — db-qualified names live under {db}.db/ and table names are
    case-folded — not a naive {warehouse}/{table_name} concat
    (ADVICE r5). Simulates the fresh-session case: the dir exists on
    disk but the catalog has no table entry."""
    import os

    from embeddinghub_spark.sources.tables import write_bucketed_table

    spark.sql("CREATE DATABASE IF NOT EXISTS bkt_db")
    db_loc = spark.catalog.getDatabase("bkt_db").locationUri
    local = db_loc[5:] if db_loc.startswith("file:") else db_loc
    stale = os.path.join(local, "mixedcase")
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "junk"), "w") as fh:
        fh.write("stale")
    try:
        df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
        # case-folded + db-qualified: must clear the stale dir above,
        # not {warehouse}/bkt_db.MixedCase
        out = write_bucketed_table(df, "bkt_db.MixedCase", ["k"], 4)
        assert out.count() == 2
        assert not os.path.exists(os.path.join(stale, "junk"))
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_db.MixedCase")
        spark.sql("DROP DATABASE IF EXISTS bkt_db CASCADE")


def test_colocated_join_default_base_name_is_unique(spark):
    """Two colocated_joins without an explicit base_name must not
    collide on table names (concurrent callers previously DROPped
    each other's tables — ADVICE r5)."""
    from embeddinghub_spark.sources.tables import colocated_join

    a = spark.createDataFrame([(1, "x")], ["k", "va"])
    b = spark.createDataFrame([(1, "y")], ["k", "vb"])
    j1 = colocated_join(a, b, ["k"], n_buckets=2)
    j2 = colocated_join(a, b, ["k"], n_buckets=2)
    # both handles stay readable — a shared fixed name would have
    # dropped j1's backing tables when j2 wrote
    assert j1.count() == 1 and j2.count() == 1


def test_backfill_partitions_idempotent_and_incremental(spark, tmp_path):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from embeddinghub_spark.sources.tables import (
        backfill_partitions,
        list_partition_values,
    )

    df = spark.createDataFrame(
        [Row(day=f"2024-01-{d:02d}", v=i) for i, d in enumerate([1, 1, 2, 3])]
    )
    tgt = str(tmp_path / "bf")

    wrote = backfill_partitions(df, tgt, "day")
    assert wrote == ["2024-01-01", "2024-01-02", "2024-01-03"]
    # re-run is a no-op (idempotent retry)
    assert backfill_partitions(df, tgt, "day") == []
    assert spark.read.parquet(tgt).count() == 4

    # new partition arrives -> only it is written
    df2 = df.unionByName(
        spark.createDataFrame([Row(day="2024-01-04", v=9)])
    )
    assert backfill_partitions(df2, tgt, "day") == ["2024-01-04"]
    # hive partition values type-infer on read-back (day -> DATE);
    # compare as strings
    got = {
        (str(r.day), r.v)
        for r in spark.read.parquet(tgt).collect()
    }
    want = {(r.day, r.v) for r in df2.collect()}
    assert got == want
    assert list_partition_values(spark, tgt, "day") == {
        "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"
    }
    # NULL partition values are skipped, not written as __HIVE_DEFAULT__
    df3 = df2.unionByName(
        spark.createDataFrame([(None, 0)], "day STRING, v BIGINT")
    )
    assert backfill_partitions(df3, tgt, "day") == []


def test_bucketed_merge_sweeps_stale_temp_link(spark, tmp_path):
    """The bucketed snapshot commit flips its symlink through the same
    temp link + ``os.replace`` as ``atomic_update``: a ``.link-*`` left
    by a crash between the two calls is swept by the next merge."""
    import datetime as dt

    from embeddinghub_spark.sources.tables import (
        merge_materialization_bucketed_dir,
        read_bucketed_snapshot,
    )

    target = str(tmp_path / "snap")
    t0 = dt.datetime(2024, 1, 1)
    merge_materialization_bucketed_dir(
        spark, target,
        spark.createDataFrame([("u1", 1.0, t0)], ["entity", "value", "ts"]),
        n_buckets=4,
    )
    stale = target + ".link-deadbeef"
    os.symlink(os.path.realpath(target), stale)
    merge_materialization_bucketed_dir(
        spark, target,
        spark.createDataFrame(
            [("u1", 2.0, dt.datetime(2024, 1, 2))], ["entity", "value", "ts"]
        ),
    )
    assert not os.path.lexists(stale), "stale temp link leaked"
    got = {
        r["entity"]: r["value"]
        for r in read_bucketed_snapshot(spark, target).collect()
    }
    assert got == {"u1": 2.0}


def test_bucketed_merge_migrates_legacy_plain_dir_snapshot(spark, tmp_path):
    """A snapshot seeded as a PLAIN parquet dir (outside the symlink
    protocol) is folded in as the legacy base on the first bucketed
    merge: its rows survive newest-wins, the target becomes a symlink
    and no temp ``.link-*`` is left behind."""
    import datetime as dt
    import glob

    from embeddinghub_spark.sources.tables import (
        merge_materialization_bucketed_dir,
        read_bucketed_snapshot,
    )

    target = str(tmp_path / "snap")
    t0 = dt.datetime(2024, 1, 1)
    old = spark.createDataFrame(
        [(f"u{i}", float(i), t0) for i in range(6)], ["entity", "value", "ts"]
    )
    old.write.parquet(target)
    upd = spark.createDataFrame(
        [("u1", 10.0, dt.datetime(2024, 1, 2)), ("u9", 9.0, t0),
         ("u2", -2.0, dt.datetime(2023, 1, 1))],
        ["entity", "value", "ts"],
    )
    merge_materialization_bucketed_dir(spark, target, upd, n_buckets=4)

    assert os.path.islink(target)
    assert glob.glob(target + ".link-*") == []
    got = {
        r["entity"]: r["value"]
        for r in read_bucketed_snapshot(spark, target).collect()
    }
    expected = {
        r["entity"]: r["value"]
        for r in materialize(old.unionByName(upd)).collect()
    }
    assert got == expected
