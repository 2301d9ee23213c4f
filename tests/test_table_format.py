"""Delta and Iceberg tables written before the table-format core was
shared (commit c612e6c, via ``write_fixture_tables``) read, feed
changes, append and compact unchanged: the logs and manifests on disk
are the format, so today's code must read them to the rows the writing
code read them to (``expected.json``, saved with the tables) and keep
committing on top of them."""

from __future__ import annotations

import json
import os
import shutil

import pytest

FIXTURES = os.path.join(os.path.dirname(__file__), "data", "table_format")
COLS = ["k", "v", "p"]


def _rows(spark, ks, prefix="v"):
    return spark.createDataFrame(
        [(k, f"{prefix}{k}", "a" if k % 2 == 0 else "b") for k in ks], COLS
    ).coalesce(2)


def _fmt(name):
    """(write, merge, compact, read, read changes, change version column)
    of one format."""
    if name == "delta":
        from embeddinghub_spark.sources import delta_log as D

        return (D.write_delta, D.merge_delta, D.compact_delta,
                D.read_delta, D.read_delta_changes, "_commit_version")
    from embeddinghub_spark.sources import iceberg_meta as M
    from embeddinghub_spark.sources import iceberg_write as W

    return (W.write_iceberg, W.merge_iceberg, W.compact_iceberg,
            M.read_iceberg, M.read_iceberg_changes, "_snapshot_id")


def _versions(name, path):
    """Every committed version (Delta) or snapshot id (Iceberg), oldest
    first."""
    if name == "delta":
        from embeddinghub_spark.sources.delta_log import delta_versions

        return delta_versions(path)
    from embeddinghub_spark.sources.iceberg_meta import iceberg_snapshot

    meta = iceberg_snapshot(path)["metadata"]
    return [int(s["snapshot-id"]) for s in meta["snapshots"]]


def _sorted(rows):
    return sorted(rows, key=lambda r: json.dumps(r, sort_keys=True))


def _read(name, spark, path):
    read = _fmt(name)[3]
    return _sorted([list(r) for r in read(spark, path).select(*COLS).collect()])


def _changes(name, spark, path, since):
    *_, read_changes, vcol = _fmt(name)
    df = read_changes(spark, path, since, key_cols=["k"])
    return _sorted([
        list(r) for r in df.select(*COLS, "_change_type", vcol).collect()
    ])


def write_fixture_tables(spark, root):
    """Write a Delta and an Iceberg table under ``root`` (two appends
    partitioned by ``p``, a copy-on-write merge, a compaction) and
    ``expected.json`` with what the writing code reads back from them.
    Run it with the package version whose on-disk format is to be
    pinned."""
    expected = {}
    for name in ("delta", "iceberg"):
        write, merge, compact, *_ = _fmt(name)
        path = os.path.join(root, name)
        write(_rows(spark, range(0, 6)), path, partition_by=["p"])
        write(_rows(spark, range(6, 10)), path, partition_by=["p"])
        since = _versions(name, path)[-1]
        merge(spark, path, _rows(spark, [1, 4, 10], "u"), ["k"], strategy="cow")
        assert compact(spark, path) is not None
        expected[name] = {
            "rows": _read(name, spark, path),
            "changes_since": since,
            "changes": _changes(name, spark, path, since),
        }
    with open(os.path.join(root, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)


@pytest.mark.parametrize("name", ["delta", "iceberg"])
def test_table_from_before_the_shared_core_reads_feeds_appends_and_compacts(
    spark, tmp_path, name
):
    """A fixture table reads to its saved rows and change feed, then
    takes an append and a compaction that read back as the saved rows
    plus the appended ones."""
    write, _merge, compact, *_ = _fmt(name)
    with open(os.path.join(FIXTURES, "expected.json")) as fh:
        expected = json.load(fh)[name]
    path = str(tmp_path / name)
    shutil.copytree(os.path.join(FIXTURES, name), path)

    assert _read(name, spark, path) == expected["rows"]
    assert _changes(name, spark, path, expected["changes_since"]) \
        == expected["changes"]
    assert {c[3] for c in expected["changes"]} == {
        "insert", "update_preimage", "update_postimage"}

    write(_rows(spark, range(20, 24)), path, partition_by=["p"])
    assert compact(spark, path) is not None
    want = _sorted(expected["rows"] + [list(r) for r in _rows(
        spark, range(20, 24)).collect()])
    assert _read(name, spark, path) == want


@pytest.mark.parametrize("name", ["delta", "iceberg"])
def test_rejected_append_writes_no_file_and_fires_no_job(spark, tmp_path, name):
    """An append whose schema or partitioning does not match the table
    raises before anything is staged: the table dir keeps exactly its
    files and no Spark job runs."""
    write = _fmt(name)[0]
    path = str(tmp_path / name)
    write(spark.createDataFrame([(1, "a")], "k long, v string"), path)
    tracker = spark.sparkContext.statusTracker()

    def files():
        return sorted(os.path.relpath(os.path.join(r, f), path)
                      for r, _d, fs in os.walk(path) for f in fs)

    def last_job():  # the tracker keeps only the newest jobs' ids
        return max(tracker.getJobIdsForGroup(), default=-1)

    before = files()
    for bad, kw, msg in (
        (spark.createDataFrame([(2, 0.5)], "k long, w double"), {},
         "schema mismatch"),
        (spark.createDataFrame([(2, "b")], "k long, v string"),
         {"partition_by": ["v"]}, "does not match"),
    ):
        job = last_job()
        with pytest.raises(Exception, match=msg):
            write(bad, path, **kw)
        assert last_job() == job, "a rejected append fired a Spark job"
        assert files() == before, "a rejected append left files behind"
