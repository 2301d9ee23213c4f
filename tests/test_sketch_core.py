"""The shared sketch core in ``functions/profile.py``: the HLL
estimate (Spark column and Python twin), the construction-time guards
of every HLL/CMS entry point, and on-disk sketch state written before
the core was shared, resumed by today's code."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

FIXTURES = os.path.join(os.path.dirname(__file__), "data", "sketch_state")


# ---------------------------------------------------------------- HLL


def _python_estimates(regs_df, p):
    """Per-group Python ``_hll_estimate`` over a register frame, rounded
    the way the Spark column rounds (HALF_UP to 3 decimals)."""
    from embeddinghub_spark.functions.profile import _hll_estimate
    from embeddinghub_spark.streaming.windows import _half_up

    rhos: dict = {}
    for r in regs_df.collect():
        rhos.setdefault(r["grp"], []).append(r["max_rho"])
    return {
        g: float(_half_up(_hll_estimate(v, p), "1e-3")) for g, v in rhos.items()
    }


@pytest.mark.parametrize("p", [9, 11, 12])
def test_python_hll_estimate_equals_spark_column(spark, tmp_path, p):
    """The stateful worker's Python estimate equals the Spark estimate
    column on the same registers, digit for digit, through every Spark
    caller (``hll_distinct_by``, the streaming register store,
    ``hll_profile``): in the small range (linear counting) and the
    large range (every register used). From p = 11 on the denominator
    passes 2^63, so this also pins that it is summed exactly."""
    from embeddinghub_spark.functions.profile import (
        hll_distinct_by,
        hll_profile,
        hll_register_frame,
    )
    from embeddinghub_spark.streaming.distinct_by import (
        merge_registers_dir,
        read_distinct_estimates,
    )

    m = 1 << p
    wide = spark.range(40 * m).select(
        (F.col("id") % (m // 8)).alias("small"), F.col("id").alias("large")
    )
    df = wide.select(F.lit("small").alias("grp"), F.col("small").alias("uid")).unionByName(
        wide.select(F.lit("large").alias("grp"), F.col("large").alias("uid"))
    )
    regs = hll_register_frame(df, ["grp"], "uid", p)
    want = _python_estimates(regs, p)

    def ndv(frame, key):
        return {r[key]: r["approx_ndv"] for r in frame.collect()}

    empties = {
        r["grp"]: r["n_empty_buckets"]
        for r in hll_distinct_by(df, ["grp"], "uid", p=p).collect()
    }
    assert empties["small"] > 0  # linear-counting branch
    assert empties["large"] == 0  # raw harmonic-mean branch
    assert ndv(hll_distinct_by(df, ["grp"], "uid", p=p), "grp") == want
    state = str(tmp_path / "regs")
    merge_registers_dir(spark, state, regs)
    assert ndv(read_distinct_estimates(spark, state, p=p), "grp") == want
    assert ndv(hll_profile(wide, ["small", "large"], p=p), "column") == want


# ------------------------------------------------- construction guards


def _stream(spark, tmp_path, schema):
    src = str(tmp_path / "in")
    os.makedirs(src, exist_ok=True)
    return spark.readStream.schema(schema).parquet(src)


@pytest.mark.parametrize(
    "case",
    [
        "distinct_p13",
        "distinct_double_col",
        "cms_stream_width0",
        "cms_stream_depth0",
        "cms_read_width0",
    ],
)
def test_streaming_twins_reject_bad_sketch_params_at_construction(
    spark, tmp_path, case
):
    """The streaming HLL and CMS entry points run the same guards as
    their batch twins when they are called, instead of starting a
    stream that dies mid-batch or answers wrong at read time."""
    from embeddinghub_spark.streaming.cms_by import read_cms_estimates, streaming_cms
    from embeddinghub_spark.streaming.distinct_by import streaming_distinct_by

    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    calls = {
        "distinct_p13": lambda: streaming_distinct_by(
            _stream(spark, tmp_path, "g string, v bigint"), state, "g", "v",
            p=13, checkpoint_dir=ckpt,
        ),
        "distinct_double_col": lambda: streaming_distinct_by(
            _stream(spark, tmp_path, "g string, v double"), state, "g", "v",
            checkpoint_dir=ckpt,
        ),
        "cms_stream_width0": lambda: streaming_cms(
            _stream(spark, tmp_path, "text string"), state, width=0,
            checkpoint_dir=ckpt,
        ),
        "cms_stream_depth0": lambda: streaming_cms(
            _stream(spark, tmp_path, "text string"), state, depth=0,
            checkpoint_dir=ckpt,
        ),
        "cms_read_width0": lambda: read_cms_estimates(
            spark, state, ["a"], width=0
        ),
    }
    started = None
    try:
        with pytest.raises(ValueError):
            started = calls[case]()
    finally:
        if started is not None and hasattr(started, "stop"):
            started.stop()


# ------------------------------------- state written before the core


def _distinct_batches(spark):
    schema = "grp string, uid bigint"
    b1 = [("a", i) for i in range(300)] + [("b", i % 40) for i in range(200)]
    b1.append(("b", None))
    b2 = [("a", i) for i in range(200, 700)] + [("c", i) for i in range(50)]
    return spark.createDataFrame(b1, schema), spark.createDataFrame(b2, schema)


def _cms_batches(spark):
    words = ["apple", "banana", "cherry", "durian", "elder", "fig"]
    b1 = [(" ".join(words[(i + j) % 6] for j in range(i % 5 + 1)),) for i in range(60)]
    b2 = [(" ".join(words[(i * j) % 6] for j in range(4)),) for i in range(40)]
    return (
        spark.createDataFrame(b1, "text string"),
        spark.createDataFrame(b2, "text string"),
    )


def _psi_frames(spark):
    ref = [Row(v=float(i % 37)) for i in range(370)]
    b1 = [Row(v=float(i % 37)) for i in range(185)]
    b2 = [Row(v=float((i * 5) % 37)) for i in range(120)]
    return tuple(spark.createDataFrame(x) for x in (ref, b1, b2))


def write_fixture_states(spark, root):
    """Write the three store fixtures under ``root``: HLL registers
    (p=9), CMS counters (depth 4, width 64, batch id 0 committed) and
    a PSI monitor (8 bins, batch id 0 committed). Run it with the
    package version whose state format is to be pinned."""
    from embeddinghub_spark.streaming.cms_by import _batch_counters, merge_counters_dir
    from embeddinghub_spark.streaming.distinct_by import _registers, merge_registers_dir
    from embeddinghub_spark.streaming.psi_monitor import freeze_reference, merge_batch_bins

    d1, _ = _distinct_batches(spark)
    merge_registers_dir(spark, os.path.join(root, "distinct"), _registers(d1, "grp", "uid", 9))
    c1, _ = _cms_batches(spark)
    merge_counters_dir(
        spark, os.path.join(root, "cms"), _batch_counters(c1, "text", 4, 64), 0
    )
    ref, p1, _ = _psi_frames(spark)
    freeze_reference(ref, os.path.join(root, "psi"), "v", n_bins=8)
    merge_batch_bins(spark, os.path.join(root, "psi"), p1, 0, "v", n_bins=8)


def _restore(fixture, state_dir):
    """Lay a fixture store out as its writer left it: the version
    directory, and ``state_dir`` as the symlink that points at it."""
    phys = state_dir + ".v-fixture"
    shutil.copytree(fixture, phys)
    os.symlink(phys, state_dir)


def test_sketch_state_from_before_the_shared_core_resumes(spark, tmp_path):
    """Register, CMS and PSI state dirs written by the stores before
    they shared one sketch core (commit 03c685e, via
    ``write_fixture_states``) are read and resumed unchanged: the
    committed watermark still skips a replayed batch, and after one
    more batch every read equals the batch sketch over both batches."""
    from embeddinghub_spark.functions.profile import (
        cms_topk,
        histogram_quantiles,
        hll_distinct_by,
    )
    from embeddinghub_spark.operators.batch import psi_drift
    from embeddinghub_spark.streaming.cms_by import (
        _batch_counters,
        merge_counters_dir,
        read_cms_estimates,
    )
    from embeddinghub_spark.streaming.distinct_by import (
        _registers,
        merge_registers_dir,
        read_distinct_estimates,
    )
    from embeddinghub_spark.streaming.psi_monitor import (
        merge_batch_bins,
        read_psi,
        read_quantiles,
    )

    def estimates(df):
        return {tuple(r) for r in df.collect()}

    # HLL registers
    d1, d2 = _distinct_batches(spark)
    regs = str(tmp_path / "distinct")
    _restore(os.path.join(FIXTURES, "distinct"), regs)
    assert estimates(read_distinct_estimates(spark, regs)) == estimates(
        hll_distinct_by(d1, ["grp"], "uid")
    )
    merge_registers_dir(spark, regs, _registers(d2, "grp", "uid", 9))
    assert estimates(read_distinct_estimates(spark, regs)) == estimates(
        hll_distinct_by(d1.unionByName(d2), ["grp"], "uid")
    )

    # CMS counters
    c1, c2 = _cms_batches(spark)
    cms = str(tmp_path / "cms")
    _restore(os.path.join(FIXTURES, "cms"), cms)
    c1_counters = _batch_counters(c1, "text", 4, 64)
    assert merge_counters_dir(spark, cms, c1_counters, 0) is False
    assert merge_counters_dir(spark, cms, _batch_counters(c2, "text", 4, 64), 1)
    both = c1.unionByName(c2)
    assert estimates(spark.read.parquet(cms)) == estimates(
        _batch_counters(both, "text", 4, 64)
    )
    top = cms_topk(both, depth=4, width=64, k=6).collect()
    got = {
        r["token"]: r["cms_estimate"]
        for r in read_cms_estimates(
            spark, cms, [r["token"] for r in top], depth=4, width=64
        ).collect()
    }
    assert got == {r["token"]: r["cms_estimate"] for r in top}

    # PSI monitor: frozen reference + current counters
    ref, p1, p2 = _psi_frames(spark)
    psi = str(tmp_path / "psi")
    shutil.copytree(
        os.path.join(FIXTURES, "psi", "reference"), os.path.join(psi, "reference")
    )
    _restore(os.path.join(FIXTURES, "psi", "current"), os.path.join(psi, "current"))
    assert merge_batch_bins(spark, psi, p1, 0, "v", n_bins=8) is False
    assert merge_batch_bins(spark, psi, p2, 1, "v", n_bins=8)
    cur = p1.unionByName(p2)
    want_psi = psi_drift(ref, cur, "v", n_bins=8).agg(F.sum("psi_term")).first()[0]
    assert read_psi(spark, psi, n_bins=8) == pytest.approx(want_psi, abs=1e-5)
    qs = [0.1, 0.5, 0.95]
    assert read_quantiles(spark, psi, qs, n_bins=8) == [
        tuple(r) for r in histogram_quantiles(cur, "v", qs, n_bins=8).collect()
    ]


def _drain(q):
    assert q.awaitTermination(180), "stream did not finish"
    assert q.exception() is None


def _drain_fails(q, message):
    """The stream stops on its first batch with ``message`` in its
    error."""
    with pytest.raises(Exception) as err:
        q.awaitTermination(180)
    assert message in str(err.value)


def test_sketch_params_are_stamped_and_checked_on_read(spark, tmp_path):
    """A streamed register table records the ``p`` it was built with
    and streamed counters their ``depth``/``width``; a read, or a
    stream into the state, with other values raises a ValueError
    naming both, instead of answering wrong (registers of p=9 read at
    p=12 estimate about a quarter of the truth). The stamp survives an
    unstamped merge. State written before stamps existed (the
    fixtures) reads at any parameters as before and takes the stamp of
    the first stream into it."""
    from embeddinghub_spark.functions.profile import hll_distinct_by
    from embeddinghub_spark.streaming.cms_by import read_cms_estimates, streaming_cms
    from embeddinghub_spark.streaming.distinct_by import (
        _registers,
        merge_registers_dir,
        read_distinct_estimates,
        streaming_distinct_by,
    )

    d1, d2 = _distinct_batches(spark)
    c1, _ = _cms_batches(spark)
    for name, df in (("d1", d1), ("d2", d2), ("c1", c1)):
        df.write.parquet(str(tmp_path / name))

    def distinct(state, src, p):
        return streaming_distinct_by(
            spark.readStream.schema(d1.schema).parquet(str(tmp_path / src)),
            state, "grp", "uid", p=p, checkpoint_dir=str(tmp_path / f"ck_{src}_{p}"),
        )

    def cms(state, depth):
        return streaming_cms(
            spark.readStream.schema(c1.schema).parquet(str(tmp_path / "c1")),
            state, depth=depth, width=64,
            checkpoint_dir=str(tmp_path / f"ck_cms_{depth}"),
        )

    def rows(df):
        return {tuple(r) for r in df.collect()}

    regs = str(tmp_path / "regs")
    _drain(distinct(regs, "d1", 10))
    assert rows(read_distinct_estimates(spark, regs, p=10)) == rows(
        hll_distinct_by(d1, ["grp"], "uid", p=10)
    )
    with pytest.raises(ValueError, match=r"p=10 \(stamped\), p=12 \(this call\)"):
        read_distinct_estimates(spark, regs, p=12)
    _drain_fails(distinct(regs, "d2", 9), "p=10 (stamped), p=9 (this call)")
    merge_registers_dir(spark, regs, _registers(d2, "grp", "uid", 10))
    with pytest.raises(ValueError, match=r"p=9 \(this call\)"):
        read_distinct_estimates(spark, regs)  # the default p=9

    counters = str(tmp_path / "cms")
    _drain(cms(counters, 3))
    assert read_cms_estimates(spark, counters, ["fig"], depth=3, width=64).count() == 1
    with pytest.raises(ValueError, match=r"width=64 \(stamped\), width=128"):
        read_cms_estimates(spark, counters, ["fig"], depth=3, width=128)
    with pytest.raises(ValueError, match=r"depth=3 \(stamped\), depth=4"):
        read_cms_estimates(spark, counters, ["fig"], depth=4, width=64)
    _drain_fails(cms(counters, 4), "depth=3 (stamped), depth=4 (this call)")

    # unstamped fixtures: read as before at any parameters
    old = str(tmp_path / "old_distinct")
    _restore(os.path.join(FIXTURES, "distinct"), old)
    assert read_distinct_estimates(spark, old, p=12).count() == 2
    old_cms = str(tmp_path / "old_cms")
    _restore(os.path.join(FIXTURES, "cms"), old_cms)
    read_cms_estimates(spark, old_cms, ["fig"], width=128).collect()
    # ... and take the stamp of the first stream into them
    _drain(distinct(old, "d2", 9))
    assert rows(read_distinct_estimates(spark, old)) == rows(
        hll_distinct_by(d1.unionByName(d2), ["grp"], "uid")
    )
    with pytest.raises(ValueError, match=r"p=9 \(stamped\), p=12"):
        read_distinct_estimates(spark, old, p=12)
