from datetime import datetime

import pytest
from pyspark.sql import functions as F

from embeddinghub_spark.operators.materialize import (
    chunk,
    global_prefix,
    grouped_prefix,
    materialize,
    materialize_no_ts,
    num_chunks,
)


def _ts(s):
    return datetime.fromisoformat(s)


def test_materialize_latest_per_entity(spark):
    df = spark.createDataFrame(
        [
            ("a", 1.0, _ts("2024-01-01T00:00:00")),
            ("a", 2.0, _ts("2024-01-02T00:00:00")),
            ("a", 3.0, _ts("2024-01-01T12:00:00")),
            ("b", 9.0, _ts("2024-01-01T00:00:00")),
        ],
        ["entity", "value", "ts"],
    )
    out = {r["entity"]: (r["value"], r["ts"]) for r in materialize(df).collect()}
    assert out["a"] == (2.0, _ts("2024-01-02T00:00:00"))
    assert out["b"] == (9.0, _ts("2024-01-01T00:00:00"))


def test_materialize_ts_tie_picks_max_value(spark):
    t = _ts("2024-01-01T00:00:00")
    df = spark.createDataFrame(
        [("a", 1.0, t), ("a", 5.0, t), ("a", 3.0, t)], ["entity", "value", "ts"]
    )
    [row] = materialize(df).collect()
    assert row["value"] == 5.0


def test_materialize_no_ts_epoch_zero(spark):
    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["entity", "value"])
    rows = materialize_no_ts(df).collect()
    assert all(r["ts"] == datetime(1970, 1, 1) for r in rows)
    assert {r["entity"]: r["value"] for r in rows} == {"a": 1.0, "b": 2.0}


def test_materialize_no_ts_dedup_with_tiebreak(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 7.0), ("b", 2.0)], ["entity", "value"]
    )
    out = materialize_no_ts(df, tiebreak_cols=["value"])
    assert {r["entity"]: r["value"] for r in out.collect()} == {"a": 7.0, "b": 2.0}


def test_global_row_number_matches_sort_order(spark):
    df = spark.range(0, 1000).withColumn("k", F.expr("id * 7919 % 1000"))
    numbered, total = global_prefix(
        df, [F.col("k")], out_col="row_number", num_partitions=7
    )
    assert total == 1000
    rows = numbered.orderBy("k").collect()
    assert [r["row_number"] for r in rows] == list(range(1, 1001))


def test_chunking(spark):
    df = spark.range(0, 250).withColumn("k", F.col("id"))
    numbered, _ = global_prefix(
        df, [F.col("k")], out_col="row_number", num_partitions=4
    )
    assert num_chunks(250, 100) == 3
    c0 = chunk(numbered, 0, 100)
    c2 = chunk(numbered, 2, 100)
    assert c0.count() == 100
    assert c2.count() == 50
    total = sum(chunk(numbered, i, 100).count() for i in range(3))
    assert total == 250


def test_salted_join_equals_plain_join(spark):
    """Salting must be result-invisible for inner AND left joins,
    including unmatched left rows and duplicate keys on both sides."""
    from embeddinghub_spark.operators.batch import salted_join

    big = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ("hot", "hot", f"k{i % 7}")]
        + [("orphan", 999)],
        ["k", "payload"],
    )
    small = spark.createDataFrame(
        [("hot", 1.0), ("hot", 2.0)] + [(f"k{j}", float(j)) for j in range(5)],
        ["k", "dim"],
    )
    for how in ("inner", "left"):
        got = sorted(
            map(tuple, salted_join(big, small, ["k"], n_salts=4, how=how).collect())
        )
        want = sorted(map(tuple, big.join(small, ["k"], how).collect()))
        assert got == want and len(got) > 0


def test_scale_features_degenerate_groups(spark):
    """Zero-variance group -> NULL zscore/minmax; normal group scales."""
    from embeddinghub_spark.operators.batch import scale_features

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0), ("b", 5.0)], ["g", "x"]
    )
    out = {(r["g"], r["x"]): (r["x_zscore"], r["x_minmax"])
           for r in scale_features(df, "x", ["g"]).collect()}
    assert out[("b", 5.0)] == (None, None)
    assert out[("a", 1.0)][1] == 0.0 and out[("a", 3.0)][1] == 1.0
    assert abs(out[("a", 3.0)][0] - 0.707107) < 1e-6


def test_materialize_refresh_equals_full_rebuild(spark, tmp_path):
    """Incremental refresh over three delta waves — including a LATE
    wave carrying an older timestamp for an already-updated entity —
    equals full-rebuild materialize over everything; history stays
    readable (time travel); the fold never rescans prior deltas."""
    import datetime as dt

    from embeddinghub_spark.operators.materialize import (
        materialize,
        materialize_refresh,
    )
    from embeddinghub_spark.sources.sinks import read_version

    t0 = dt.datetime(2024, 1, 1)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    waves = [
        [("a", 1.0, ts(1)), ("b", 5.0, ts(2))],
        [("a", 2.0, ts(5)), ("c", 7.0, ts(3))],
        # late wave: a@ts3 is OLDER than the snapshot's a@ts5 -> loses
        [("a", 99.0, ts(3)), ("b", 6.0, ts(9)), ("d", 1.0, ts(1))],
    ]
    target = str(tmp_path / "snap")
    for w in waves:
        delta = spark.createDataFrame(w, ["entity", "value", "ts"])
        materialize_refresh(spark, delta, target)

    got = {
        r["entity"]: (r["value"], r["ts"])
        for r in read_version(spark, target, 0).collect()
    }
    full = spark.createDataFrame(
        [r for w in waves for r in w], ["entity", "value", "ts"]
    )
    want = {
        r["entity"]: (r["value"], r["ts"])
        for r in materialize(full).collect()
    }
    assert got == want
    assert got["a"] == (2.0, ts(5))  # late 99.0@ts3 did not win

    # previous snapshot still readable (keep_versions=2 default)
    prev = {
        r["entity"]: r["value"]
        for r in read_version(spark, target, 1).collect()
    }
    assert prev["a"] == 2.0 and "d" not in prev


def test_grouped_prefix_rejects_reserved_internal_columns(spark):
    """ADVICE r12: the helper's internal names are _pid/_local/_off/_t
    but callers' _require_absent tuples still reserved the
    pre-extraction names (_local_cum/_local_rn) — an input already
    carrying _local passed their guard and was silently clobbered then
    dropped. The helper now guards its OWN names."""
    df = spark.createDataFrame(
        [("a", 1, 7)], "g string, k int, _local int"
    )
    with pytest.raises(ValueError, match="_local"):
        grouped_prefix(df, ["g"], [F.col("k").asc()], out_col="rn")
    # the clean path still works and the internals don't leak out
    ok = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "g string, k int"
    )
    out = grouped_prefix(ok, ["g"], [F.col("k").asc()], out_col="rn")
    assert set(out.columns) == {"g", "k", "rn"}
    got = {(r["g"], r["k"], r["rn"]) for r in out.collect()}
    assert got == {("a", 1, 1), ("a", 2, 2), ("b", 3, 1)}


def test_global_prefix_rejects_reserved_internal_columns(spark):
    """The global numbering used to overwrite an input ``_pid`` and drop
    an input ``_local_rn`` without a word (train/test split over such a
    frame lost the column). The shared prefix-sum core now refuses its
    own internal names and leaves every other column alone."""
    from embeddinghub_spark.operators.split import with_split

    clash = spark.createDataFrame([(1, 7)], "k int, _pid int")
    with pytest.raises(ValueError, match="_pid"):
        with_split(clash, 0.5, key_cols=["k"])
    local = spark.createDataFrame([(1, 7)], "k int, _local int")
    with pytest.raises(ValueError, match="_local"):
        global_prefix(local, [F.col("k")], out_col="rn")
    ok = spark.createDataFrame([(i, -i) for i in range(5)], "k int, _local_rn int")
    marked = with_split(ok, 0.4, key_cols=["k"])
    assert {(r["k"], r["_local_rn"]) for r in marked.collect()} == {
        (i, -i) for i in range(5)
    }
    assert sum(r["is_test"] for r in marked.collect()) == 2


def _replay_running(rows, group_of, value_of):
    """Python replay of a running total: ``rows`` sorted by (k DESC,
    id ASC); the inclusive running count/sum restarts per group."""
    out, acc = {}, {}
    for r in sorted(rows, key=lambda r: (-r[2], r[0])):
        g = group_of(r)
        acc[g] = acc.get(g, 0) + value_of(r)
        out[r[0]] = acc[g]
    return out


@pytest.mark.parametrize("n_rows,num_partitions", [(300, 7), (40, 64)])
def test_prefix_sums_match_python_replay(spark, n_rows, num_partitions):
    """global_prefix and grouped_prefix against a running-sum replay on
    seeded input: a head group holding ~80% of the rows, heavy ties in
    the order key broken by id, both count and sum, and (second case)
    more partitions than rows."""
    import random

    rnd = random.Random(20260417 + n_rows)
    rows = [
        (
            i,
            "head" if rnd.random() < 0.8 else f"g{rnd.randrange(4)}",
            rnd.randrange(6),
            rnd.randrange(0, 50),
        )
        for i in range(n_rows)
    ]
    df = spark.createDataFrame(rows, "id int, g string, k int, v bigint")
    order = [F.col("k").desc(), F.col("id").asc()]
    for value_col, value_of in ((None, lambda r: 1), ("v", lambda r: r[3])):
        want = _replay_running(rows, lambda r: None, value_of)
        got, total = global_prefix(
            df, order, out_col="run", value_col=value_col,
            num_partitions=num_partitions,
        )
        assert got.columns == ["id", "g", "k", "v", "run"]
        assert {r["id"]: r["run"] for r in got.collect()} == want
        assert total == sum(value_of(r) for r in rows)

        want_g = _replay_running(rows, lambda r: r[1], value_of)
        got_g = grouped_prefix(
            df, ["g"], order, out_col="run", value_col=value_col,
            num_partitions=num_partitions,
        )
        assert {r["id"]: r["run"] for r in got_g.collect()} == want_g
