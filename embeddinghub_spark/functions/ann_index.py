"""Persistent on-disk IVF index: the vector twin of the incremental
MinHash band index (functions/dedup.py gram/band indexes).

``ivf_index_build`` materializes the inverted file as a parquet
layout PARTITIONED BY CELL, with the quantizer (centroids) as a
sidecar table. ``ivf_index_probe`` then answers a batch query frame by
reading ONLY the probed cell partitions — the cell filter lands in the
scan's ``PartitionFilters`` (pinned by test), so a probe touches
``nprobe/n_cells`` of the index BYTES on disk, not just of the rows
in memory. That file-skipping is the point of persisting the index:
the in-memory ``knn_ivf`` pays a full corpus scan per session; the
disk index pays it once at build.

``ivf_index_probe_local`` answers ONE query vector on the driver with
NumPy and pyarrow, firing no Spark job: it reads the centroids, then
opens only the probed ``cell=`` directories. It returns the same
neighbor list as ``ivf_index_probe(...).orderBy("rank")`` — every dot
product and norm uses the JVM fold's left-to-right order
(``_fold_dot``), so scores are bit-identical. This is the serving path
(``OnlineStore.nearest``). The index dir is listed and read through
one pyarrow filesystem, so it must be a local path or a URI
``pyarrow.fs`` resolves (``file://``, or a remote scheme pyarrow was
built with). Both tables are read on every query, so a rebuild or an
append is visible to the next one.

``ivf_index_append`` adds new vectors by writing ONLY the partitions
their cells land in (dynamic partition overwrite is not needed —
parquet append into a partitioned layout creates/extends just those
cell directories), mirroring the band-index append discipline.

Probe results are IDENTICAL to ``knn_ivf`` with the same quantizer
(assignment, probe ordering, scoring, and tie-breaks all mirror it),
which is what lets the entry reuse the knn_ivf SQL oracle verbatim.

Ref parity: embeddinghub serves vectors from an on-disk store with an
ANN index sidecar (embeddingstore/embedding_store.cc) and answers
NearestNeighbor in-process next to it (embeddingstore/server.cc);
the batch probe is the Spark form of that persisted-index idea, the
local probe its in-process serving form.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from embeddinghub_spark.functions.vector import (
    _collect_cells,
    _topk_per_query,
    assign_ivf_cells,
    default_centroids,
    dot,
    norm,
)

_CELLS = "cells"
_CENTROIDS = "centroids"


def ivf_index_build(
    vectors: DataFrame,
    index_dir: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    centroids: DataFrame | None = None,
) -> None:
    """Build the on-disk inverted file: assign every vector to its
    nearest cell (map-only literal-fold argmax — zero exchanges; see
    assign_ivf_cells) and write parquet partitioned by ``cell``, plus
    the centroid sidecar. The partitioned write is the index's one
    shuffle-free clustering pass; every probe after it is file-
    skipping."""
    if centroids is None:
        centroids = default_centroids(vectors, n_cells, id_col, vec_col)
    cents = _collect_cells(centroids, "cell", "centroid")
    assigned = assign_ivf_cells(
        vectors, centroids, id_col, vec_col, dim=dim, cells=cents
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(index_dir, _CELLS)
    )
    centroids.write.mode("overwrite").parquet(
        os.path.join(index_dir, _CENTROIDS)
    )


def ivf_index_append(
    vectors: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> None:
    """Append new vectors: assign with the STORED quantizer and
    parquet-append — only the touched cell directories gain files;
    untouched cells are never rewritten (the band-index append
    discipline)."""
    spark = vectors.sparkSession
    centroids = spark.read.parquet(os.path.join(index_dir, _CENTROIDS))
    cents = _collect_cells(centroids, "cell", "centroid")
    assigned = assign_ivf_cells(
        vectors, centroids, id_col, vec_col, dim=dim, cells=cents
    )
    assigned.write.mode("append").partitionBy("cell").parquet(
        os.path.join(index_dir, _CELLS)
    )


def ivf_index_probe(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Probe the disk index: each query's ``nprobe`` nearest cells
    (score desc, cell asc — knn_ivf's ordering) are unioned into a
    driver-side cell list (bounded by n_cells), and the index scan
    carries ``cell IN (...)`` as a PARTITION filter — unprobed cells'
    files are never opened. Candidates score exactly (cosine, norms
    hoisted once) and reduce via the two-stage top-k. Output:
    (query_id, neighbor_id, score, rank) — identical to knn_ivf with
    the same quantizer."""
    centroids = spark.read.parquet(os.path.join(index_dir, _CENTROIDS))

    qpaired = queries.join(F.broadcast(centroids))
    qscored = qpaired.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        F.col("cell"),
        dot(query_vec_col, "centroid", dim).alias("_qscore"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("_qscore").desc(), F.col("cell").asc()
    )
    probes = (
        qscored.withColumn("_qrank", F.row_number().over(wq))
        .filter(F.col("_qrank") <= nprobe)
        .select(query_id_col, query_vec_col, "cell")
        .localCheckpoint(eager=False)
    )
    needed = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )  # bounded by n_cells — the static partition-pruning list

    index = spark.read.parquet(os.path.join(index_dir, _CELLS)).filter(
        F.col("cell").isin(needed)
    )
    index = index.withColumn("_vn", norm(vec_col, dim))
    probes = probes.withColumn("_qn", norm(query_vec_col, dim))
    score = dot(vec_col, query_vec_col, dim) / (F.col("_vn") * F.col("_qn"))
    paired = index.join(F.broadcast(probes), "cell")
    scored = paired.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        score.alias("score"),
    )
    return _topk_per_query(
        scored, k, [F.col("score").desc(), F.col("neighbor_id").asc()]
    )


def _index_fs(index_dir: str):
    """(pyarrow filesystem, path) the driver probe reads ``index_dir``
    through: a local path, or a URI ``pyarrow.fs`` resolves (``file://``,
    or a remote scheme pyarrow was built with). Listing and reading go
    through the same filesystem, so a URI index is served, not
    silently empty."""
    import pyarrow.fs as pafs

    if "://" in index_dir:
        return pafs.FileSystem.from_uri(index_dir)
    return pafs.LocalFileSystem(), os.path.abspath(index_dir)


def check_index_dir(index_dir: str) -> None:
    """Raise a ``ValueError`` naming the path unless ``index_dir``
    holds ``centroids/`` and ``cells/`` parquet tables, readable through
    ``_index_fs``, with the columns the driver probe reads. Lets a
    server fail at registration instead of on its first query."""
    import pyarrow.dataset as ds

    fs, root = _index_fs(index_dir)
    need = {_CENTROIDS: {"cell", "centroid"}, _CELLS: {"vec_id", "embedding"}}
    for table, cols in need.items():
        path = os.path.join(index_dir, table)
        try:
            schema = ds.dataset(
                f"{root}/{table}", filesystem=fs, format="parquet"
            ).schema
        except (OSError, ValueError) as e:  # ArrowInvalid is a ValueError
            raise ValueError(f"IVF index table {path!r} is not readable: {e}") from e
        missing = cols - set(schema.names)
        if missing:
            raise ValueError(
                f"IVF index table {path!r} lacks column(s) {sorted(missing)}"
            )


def _stack_vectors(vectors, dim: int, what: str):
    """Stack a sequence of vectors into an (n, dim) float64 matrix.

    A null vector or one whose length is not ``dim`` raises a
    ``ValueError`` naming ``what`` and the vector's position in
    ``vectors``, instead of ``np.stack``'s anonymous shape error."""
    import numpy as np

    for i, v in enumerate(vectors):
        if v is None:
            raise ValueError(f"{what}: null vector at position {i}")
        if len(v) != dim:
            raise ValueError(
                f"{what}: vector at position {i} has length {len(v)}, "
                f"expected dim {dim}"
            )
    if len(vectors) == 0:
        return np.empty((0, dim), dtype=np.float64)
    return np.stack(vectors).astype(np.float64, copy=False)


def _fold_dot(a, b):
    """Σ_d a[..., d] * b[..., d] accumulated left to right from 0.0,
    broadcasting over the leading axes — the NumPy twin of the JVM
    ``F.aggregate`` fold of ``vector.dot``/``vector.norm``.

    Each step is one IEEE-double multiply and one add onto the whole
    accumulator (two separate ufuncs, never fused), so every entry is
    the identical left-associated sum ``0.0 + a0·b0 + a1·b1 + …`` the
    JVM computes: scores, and the orderings built on them, are
    bit-identical across the two engines."""
    import numpy as np

    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]), dtype=np.float64)
    for d in range(a.shape[-1]):
        acc += a[..., d] * b[..., d]
    return acc


def _read_vectors(table, col: str, dim: int, what: str):
    """(n, dim) float64 matrix of an Arrow list column. A null element
    is rejected like a null or ragged vector: Arrow would hand it over
    as NaN, which ranks first where the JVM's null score ranks last."""
    import pyarrow.compute as pc

    arr = table.column(col)
    if pc.list_flatten(arr).null_count:
        raise ValueError(f"{what}: a vector has a null element")
    return _stack_vectors(arr.to_numpy(zero_copy_only=False), dim, what)


def _rank_desc(scores, ties, null=False):
    """Indices ordering rows by score desc, then ``ties`` asc, as Spark
    orders ``(score.desc(), tie.asc())``: NaN ranks first, rows flagged
    in ``null`` rank last, and -0.0 ties +0.0."""
    import numpy as np

    cls = np.where(null, 2, np.where(np.isnan(scores), 0, 1))
    neg = np.where(cls == 1, -scores, 0.0)
    return np.lexsort((ties, neg, cls))


def ivf_index_probe_local(
    index_dir: str,
    vector: list[float],
    k: int,
    nprobe: int = 4,
    ansi: bool = True,
) -> list:
    """Answer one query vector on the driver: the same neighbor list,
    in the same order, as ``ivf_index_probe(...).orderBy("rank")`` —
    with zero Spark jobs.

    Reads ``centroids/`` with pyarrow, picks the ``nprobe`` cells by
    (score desc, cell asc), opens only those ``cell=`` directories,
    scores the candidates by cosine (norms once per vector) and keeps
    the top ``k`` by (score desc, neighbor_id asc). All dot products
    and norms use ``_fold_dot``, so every score is bit-identical to
    the JVM fold. ``index_dir`` is read through ``_index_fs``: a local
    path or a URI ``pyarrow.fs`` resolves.

    ``ansi`` mirrors ``spark.sql.ansi.enabled`` for a zero-norm query
    or candidate: under ANSI the Spark probe fails with DIVIDE_BY_ZERO
    and so does this one (same ``ArithmeticException`` type);
    otherwise the score is null and ranks last. A null or ragged
    query, centroid or candidate vector raises a ``ValueError``."""
    import numpy as np
    import pyarrow.dataset as ds
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    what = "ivf_index_probe_local"
    fs, root = _index_fs(index_dir)
    cent = pq.read_table(
        f"{root}/{_CENTROIDS}", columns=["cell", "centroid"], filesystem=fs
    )
    if vector is None or any(x is None for x in vector):
        raise ValueError(f"{what}: the query vector is null or has a null element")
    if cent.num_rows == 0:
        return []
    dim = len(cent.column("centroid")[0])
    q = _stack_vectors([vector], dim, f"{what}: query")[0]
    cmat = _read_vectors(cent, "centroid", dim, f"{what}: centroid")
    cells = cent.column("cell").to_numpy()
    order = _rank_desc(_fold_dot(cmat, q), cells)
    probed = sorted(int(c) for c in cells[order[: max(nprobe, 0)]])

    # a cell no vector was assigned to has no directory
    files = sorted(
        f.path
        for c in probed
        for f in fs.get_file_info(
            pafs.FileSelector(f"{root}/{_CELLS}/cell={c}", allow_not_found=True)
        )
        if f.type == pafs.FileType.File
        and not f.base_name.startswith((".", "_"))  # .crc, _SUCCESS
    )
    if not files:
        return []
    # one dataset over the probed files, read on this thread: the
    # files are small, and a thread pool per query costs more than it
    # saves
    cand = ds.dataset(files, filesystem=fs, format="parquet").to_table(
        columns=["vec_id", "embedding"], use_threads=False
    )
    x = _read_vectors(cand, "embedding", dim, f"{what}: indexed")
    ids = cand.column("vec_id").to_numpy(zero_copy_only=False)
    denom = np.sqrt(_fold_dot(x, x)) * np.sqrt(_fold_dot(q, q))
    zero = denom == 0
    if ansi and zero.any():
        from pyspark.errors import ArithmeticException

        raise ArithmeticException(
            message="[DIVIDE_BY_ZERO] Division by zero: a zero-norm vector "
            "in the cosine score of an IVF probe."
        )
    with np.errstate(divide="ignore", invalid="ignore"):
        scores = _fold_dot(x, q) / denom
    top = _rank_desc(scores, ids, zero)[: max(k, 0)]
    return ids[top].tolist()
