"""sources/row_dml.py — one row-level DML planner for both native table
formats: the same op on a Delta table and an Iceberg table built from
the same frame must leave the same rows and touch the same files."""

from __future__ import annotations

import json

import pyarrow.parquet as pq
import pytest

from embeddinghub_spark.sources.delta_log import (
    delete_delta,
    delta_snapshot,
    merge_delta,
    read_delta,
    update_delta,
    write_delta,
)
from embeddinghub_spark.sources.iceberg_meta import (
    iceberg_snapshot,
    read_iceberg,
)
from embeddinghub_spark.sources.iceberg_write import (
    delete_iceberg,
    merge_iceberg,
    update_iceberg,
    write_iceberg,
)

# op -> (delta call, iceberg call, expected rows, files the op touches)
_N = 2000
_OPS = {
    "merge": (
        lambda spark, p, s, src: merge_delta(spark, p, src, ["id"],
                                             strategy=s),
        lambda spark, p, s, src: merge_iceberg(spark, p, src, ["id"],
                                               strategy=s),
        {i: f"s{i}" if i >= 1990 else f"v{i}" for i in range(2010)},
        1,
    ),
    "delete": (
        lambda spark, p, s, src: delete_delta(spark, p, "id IN (5, 1500)",
                                              strategy=s),
        lambda spark, p, s, src: delete_iceberg(spark, p, "id IN (5, 1500)",
                                                strategy=s),
        {i: f"v{i}" for i in range(_N) if i not in (5, 1500)},
        2,
    ),
    "update": (
        lambda spark, p, s, src: update_delta(spark, p, "id % 500 = 7",
                                              {"v": "'u'"}, strategy=s),
        lambda spark, p, s, src: update_iceberg(spark, p, "id % 500 = 7",
                                                {"v": "'u'"}, strategy=s),
        {i: "u" if i % 500 == 7 else f"v{i}" for i in range(_N)},
        4,
    ),
}


def _delta_touched(before: dict, after: dict) -> int:
    """Files the commit removed (cow) or re-added with a new DV (mor)."""
    def state(snap):
        return {
            (f["path"], json.dumps(f.get("deletionVector"), sort_keys=True))
            for f in snap["files"]
        }

    return len({p for p, _ in state(before) - state(after)})


def _iceberg_touched(before: dict, after: dict) -> int:
    """Files the commit dropped (cow) or position-deleted from (mor)."""
    new_deletes = set(after["position_deletes"]) - set(
        before["position_deletes"]
    )
    deleted_from = {
        p for d in new_deletes
        for p in pq.read_table(d).column("file_path").to_pylist()
    }
    return len(set(before["files"]) - set(after["files"])) + len(
        deleted_from
    )


@pytest.mark.parametrize("strategy", ["cow", "mor"])
@pytest.mark.parametrize("op", sorted(_OPS))
def test_same_plan_on_delta_and_iceberg(spark, tmp_path, op, strategy):
    run_delta, run_iceberg, expected, n_touched = _OPS[op]
    frame = spark.range(0, _N).selectExpr(
        "id", "concat('v', id) AS v"
    ).repartitionByRange(8, "id")
    src = spark.range(1990, 2010).selectExpr("id", "concat('s', id) AS v")
    d, i = str(tmp_path / "delta"), str(tmp_path / "iceberg")
    write_delta(frame, d)
    write_iceberg(frame, i)
    d0, i0 = delta_snapshot(d), iceberg_snapshot(i)
    assert len(d0["files"]) == len(i0["files"]) == 8

    assert run_delta(spark, d, strategy, src) is not None
    assert run_iceberg(spark, i, strategy, src) is not None

    got_d = sorted((r["id"], r["v"]) for r in read_delta(spark, d).collect())
    got_i = sorted(
        (r["id"], r["v"]) for r in read_iceberg(spark, i).collect()
    )
    assert got_d == got_i == sorted(expected.items())
    assert _delta_touched(d0, delta_snapshot(d)) == n_touched
    assert _iceberg_touched(i0, iceberg_snapshot(i)) == n_touched
