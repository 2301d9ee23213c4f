"""On-disk band indexes written before the LSH banding core was shared
(commit 29a3d67, via ``write_fixture_indexes``) are probed and appended
to unchanged: each index's bucket hash is part of its on-disk format,
so today's code must put a band row in the same ``bucket=`` directory
and find the same candidates in it."""

from __future__ import annotations

import math
import os
import shutil

import pytest

FIXTURES = os.path.join(os.path.dirname(__file__), "data", "band_index")
DIM, N_PLANES = 8, 8

_BASE = [
    "the quick brown fox jumps over the lazy dog again and again",
    "completely unrelated text about spark structured streaming",
    "numbers one two three four five six seven eight nine ten",
]


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, _BASE[i % 3] + f" tail {i % 4}") for i in ids], ["doc_id", "text"]
    )


def _vecs(spark, ids):
    return spark.createDataFrame(
        [(i, [math.sin(0.7 * (i % 16) + j) + 0.01 * (i // 16) for j in range(DIM)])
         for i in ids],
        ["vec_id", "embedding"],
    )


def write_fixture_indexes(spark, root):
    """Write the two fixture indexes under ``root``: a MinHash index
    (default parameters) over docs 0..23 and an embedding index
    (8-d, 8 planes) over vectors 0..23. Run it with the package version
    whose on-disk format is to be pinned."""
    from embeddinghub_spark.functions.dedup import emb_index_append, minhash_index_append

    minhash_index_append(spark, os.path.join(root, "minhash"), _docs(spark, range(24)))
    emb_index_append(
        spark, os.path.join(root, "emb"), _vecs(spark, range(24)), DIM, n_planes=N_PLANES
    )


def _family(name):
    """(batch frame maker, append, probe, band value column)."""
    from embeddinghub_spark.functions import dedup as D

    if name == "minhash":
        return _docs, D.minhash_index_append, D.minhash_index_probe, "band_hash"

    def append(spark, idx, df):
        return D.emb_index_append(spark, idx, df, DIM, n_planes=N_PLANES)

    def probe(spark, idx, df):
        return D.emb_index_probe(spark, idx, df, DIM, threshold=0.9, n_planes=N_PLANES)

    return _vecs, append, probe, "band_val"


def _bucket_rows(spark, idx, id_col, val_col):
    """``{bucket=...: {(id, band, value)}}`` as laid out on disk."""
    out = {}
    for r in spark.read.parquet(idx).collect():
        out.setdefault(f"bucket={r['bucket']}", set()).add(
            (r[id_col], r["band"], r[val_col])
        )
    assert sorted(out) == sorted(n for n in os.listdir(idx) if n.startswith("bucket="))
    return out


@pytest.mark.parametrize("name", ["minhash", "emb"])
def test_band_index_from_before_the_shared_core_probes_and_appends(spark, tmp_path, name):
    """A fixture index probes to the same candidate pairs as a fresh
    index of the same rows, takes an append without a params error,
    and ends with the same ``bucket=`` directories holding the same
    rows."""
    batch, append, probe, val_col = _family(name)
    id_col = "doc_id" if name == "minhash" else "vec_id"
    old, fresh = str(tmp_path / "old"), str(tmp_path / "fresh")
    shutil.copytree(os.path.join(FIXTURES, name), old)
    append(spark, fresh, batch(spark, range(24)))
    assert _bucket_rows(spark, old, id_col, val_col) == _bucket_rows(
        spark, fresh, id_col, val_col
    )

    probes = batch(spark, range(100, 112))
    got = {tuple(r) for r in probe(spark, old, probes).collect()}
    assert got, "probe batch must find candidates in the fixture index"
    assert got == {tuple(r) for r in probe(spark, fresh, probes).collect()}

    for idx in (old, fresh):
        append(spark, idx, probes)
    assert _bucket_rows(spark, old, id_col, val_col) == _bucket_rows(
        spark, fresh, id_col, val_col
    )
