"""Vector / embedding operators (SURVEY §2.3 V5, V9; embeddinghub
semantics from ``embeddinghub/embeddingstore/index.cc:10-54`` — hnswlib
over L2 space; Redis path FT.CREATE HNSW ``provider/redis.go:226-293``).

Batch-first design per BASELINE.json: "Vector database for embeddings
could use Spark for batch index construction but online ANN serving
requires specialized engines." So:

- exact brute-force top-k (the oracle-checkable baseline): JVM-side
  ``F.aggregate``/``F.zip_with`` dot products — no Python in the hot
  path — then a per-query window top-k.
- LSH-bucketed approximate variant (the 100 TB path): random
  hyperplane signs partition vectors into buckets; queries probe only
  their bucket (and optionally neighbors), turning the O(N·Q) cross
  join into a bucket-local join. MLlib's BucketedRandomProjectionLSH
  offers the same for L2; we keep a DataFrame-native implementation so
  the plan stays joinable/broadcastable.

All distances accumulate in DOUBLE, sequentially left-to-right
(``F.aggregate`` folds in array order) — deterministic and
reproducible across engines.
"""

from __future__ import annotations

import importlib.util

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# Metric expressions are ``F.aggregate``/``F.zip_with`` HOF folds.
#
# An UNROLLED variant (``a[0]*b[0] + a[1]*b[1] + …`` via one F.expr)
# was the dim-known default through round 3 on the assumption that
# whole-stage codegen beats the "CodegenFallback" HOFs. A/B at sf0.1
# (round 4, protocol identical to the round-3 LSH-fold A/B) measured
# the opposite, at BOTH ends:
#   - cold (per-invocation plan compile): v5 4.97 s vs 1.03 s, knn_ivf
#     3.31 s vs 1.22 s — the 64-dim unrolled chain costs ~1-4 s of
#     janino per invocation;
#   - warm per-row throughput, 4M rows × dim 64: fold ~1.1 s vs
#     unrolled ~4.5 s per pass — 128 independent bounds-checked array
#     accesses in a 64-term add chain lose to the fold's single tight
#     loop over the UnsafeArrayData.
# So the fold is simply the better plan at every scale; ``dim`` is
# retained in signatures for validation and for callers (LSH/IVF
# literal folds) that genuinely need it.
#
# All folds accumulate in DOUBLE, sequentially left-to-right (fold
# order == left-assoc add chain), so results are bit-identical to the
# retired unrolled chain and across engines.


def _unrollable(*cols) -> bool:
    # retired: the fold path wins at every scale (see module note).
    # Kept (always-False) so the A/B harness and any out-of-tree
    # callers of the private helpers keep working.
    return False


def _bq(name: str) -> str:
    """Backtick-quote a (possibly alias-qualified) column name for SQL
    interpolation: 'x.embedding' -> `x`.`embedding` — without this, a
    hyphenated/keyword/space-bearing name fails to parse where the
    Column-based fallback would accept it."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))


def _dot_sql(a: str, b: str, dim: int) -> str:
    qa, qb = _bq(a), _bq(b)
    return " + ".join(
        f"cast({qa}[{i}] as double) * cast({qb}[{i}] as double)"
        for i in range(dim)
    )


def _sq_norm_sql(a: str, dim: int) -> str:
    return _dot_sql(a, a, dim)


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Σ a[i]*b[i], JVM-side, double accumulation in array order."""
    if dim and _unrollable(a, b):
        return F.expr(f"({_dot_sql(a, b, dim)})")
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str, dim: int | None = None) -> Column:
    if dim and _unrollable(a):
        return F.expr(f"sqrt({_sq_norm_sql(a, dim)})")
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_similarity(
    a: Column | str, b: Column | str, dim: int | None = None
) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def l2_distance(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Embeddinghub's HNSW metric (index.cc L2 space)."""
    if dim and _unrollable(a, b):
        qa, qb = _bq(a), _bq(b)
        terms = " + ".join(
            f"(cast({qa}[{i}] as double) - cast({qb}[{i}] as double))"
            f" * (cast({qa}[{i}] as double) - cast({qb}[{i}] as double))"
            for i in range(dim)
        )
        return F.expr(f"sqrt({terms})")
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def knn_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    metric: str = "cosine",
    dim: int | None = None,
) -> DataFrame:
    """V5 exact top-k: broadcast the (small) query set against the
    vector table, score JVM-side, keep k per query via window.
    ``dim`` unlocks the unrolled codegen metric expressions.

    Output: (query_id, neighbor_id, score, rank); rank 1 = best;
    deterministic tiebreak on neighbor_id. At 100 TB the vector table
    side stays partitioned (no shuffle: broadcast join + per-partition
    partial top-k before the window's single shuffle on query_id).
    """
    order = [F.col("score").desc(), F.col("neighbor_id").asc()]
    if metric == "cosine":
        # norms hoisted to once-per-row projections BEFORE the pairing
        # (inline they were recomputed for every (vector, query) pair,
        # and the dot+two-norms expression inside the join's generated
        # method risks janino's 64 KB limit). sqrt-then-multiply in
        # either order is the same double — oracle hashes unchanged.
        vectors = vectors.withColumn("_vn", norm(vec_col, dim))
        queries = queries.withColumn("_qn", norm(query_vec_col, dim))
        score = dot(vec_col, query_vec_col, dim) / (
            F.col("_vn") * F.col("_qn")
        )
    elif metric == "l2":
        score = -l2_distance(vec_col, query_vec_col, dim)
    elif metric == "dot":
        score = dot(vec_col, query_vec_col, dim)
    else:
        raise ValueError(f"unknown metric {metric}")
    paired = vectors.join(F.broadcast(queries))
    scored = paired.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        score.alias("score"),
    )
    return _topk_per_query(scored, k, order)


def _topk_per_query(scored: DataFrame, k: int, order: list[Column]) -> DataFrame:
    """Two-stage top-k: per-(input-partition, query) partial top-k
    first, then the global per-query window over the survivors only.

    A single ``partitionBy(query_id)`` window hashes ALL N×Q scored
    rows onto Q keys — a skew catastrophe at scale (Q reducers own
    everything). Staging on (spark_partition_id, query_id) keeps the
    first exchange uniformly distributed, and the final window sees
    only parts×Q×k rows. ``spark_partition_id`` is projected to a
    column first (window partition keys must be deterministic).
    """
    staged = scored.withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy("_pid", "query_id").orderBy(*order)
    pruned = (
        staged.withColumn("_prank", F.row_number().over(w1))
        .filter(F.col("_prank") <= k)
        .drop("_pid", "_prank")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return pruned.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _dot_lit_sql(a: str, vec, dim: int) -> str:
    """Unrolled dot product against a DRIVER-SIDE literal vector.
    ``repr(float)`` is the shortest exact round-trip string, and Spark
    parses double literals with the same semantics, so the product is
    bit-identical to multiplying by the float column the value came
    from (cast to double)."""
    qa = _bq(a)
    return " + ".join(
        f"cast({qa}[{i}] as double) * {float(vec[i])!r}D" for i in range(dim)
    )


# Inline-literal assignment bound: K·dim double literals folded into
# the plan. Past this, plan/literal size outgrows the win and the
# map-side-combining aggregate path takes over.
_MAX_INLINE_CELL_TERMS = 8192


def _cells_fold_sql(cents: list, col_name: str, dim: int) -> str:
    """ONE compact expression scoring a vector column against every
    centroid: ``zip_with`` over literal (centroid-matrix, id) arrays
    producing ``(s: dot, id)`` structs.

    The literal arrays constant-fold to a single array value and the
    generated code is a small loop — the previous form unrolled
    K·dim scalar multiply-adds into the projection, whose plan
    compile (parse + analyze + janino) cost ~2 s per *invocation* at
    K·dim = 1024, tripling local IVF latency. Per-row arithmetic is
    identical: the fold accumulates ``0D + x0·c0 + x1·c1 + …`` in the
    same left-associated order as the unrolled chain, so scores (and
    thus cell assignments and oracle hashes) are bit-identical."""
    qv = _bq(col_name)
    arrs = ", ".join(
        "array(" + ", ".join(f"{float(v[i])!r}D" for i in range(dim)) + ")"
        for _, v in cents
    )
    ids = ", ".join(str(int(cid)) + "L" for cid, _ in cents)
    return (
        f"zip_with(array({arrs}), array({ids}), (c, id) -> named_struct("
        f"'s', aggregate(zip_with(c, {qv}, (a, b) -> a * cast(b as double)),"
        f" 0D, (acc, x) -> acc + x), 'id', id))"
    )


def _collect_cells(
    centroids: DataFrame, centroid_id_col: str, centroid_vec_col: str
) -> list:
    """Driver-side (cell, vector) list, sorted by cell id. Centroid
    sets are index-build constants (K small by construction), so the
    collect is bounded."""
    return sorted(
        (r[0], r[1])
        for r in centroids.select(centroid_id_col, centroid_vec_col).collect()
    )


def default_centroids(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The deterministic quantizer every IVF path defaults to
    (``knn_ivf*``, ``ivf_index_build``): first ``n_cells`` vectors by
    id, cell = 1-based rank — replayable by a SQL oracle. Swap in
    ``kmeans_centroids`` for production recall — every downstream
    step is unchanged."""
    return (
        vectors.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("centroid"))
        .withColumn(
            "cell", F.row_number().over(Window.orderBy(F.col("_cid").asc()))
        )
        .select("cell", "centroid")
    )


def _inline_ok(cents: list, vec_col, dim: int | None) -> bool:
    return (
        0 < len(cents)
        and dim is not None
        and isinstance(vec_col, str)
        and len(cents) * dim <= _MAX_INLINE_CELL_TERMS
        and all(c[1] is not None and len(c[1]) == dim for c in cents)
    )


def _arrow_ok(cents: list, vec_col, dim: int | None) -> bool:
    # Same structural requirements as the inline path (known dim,
    # plain column, complete centroids) WITHOUT the K·dim literal cap —
    # this is the large-K regime where folding centroids into the plan
    # stops paying. Without pyarrow or pandas a pandas UDF cannot run,
    # so those environments take the broadcast path instead.
    return (
        0 < len(cents)
        and dim is not None
        and isinstance(vec_col, str)
        and all(c[1] is not None and len(c[1]) == dim for c in cents)
        and importlib.util.find_spec("pyarrow") is not None
        and importlib.util.find_spec("pandas") is not None
    )


def _assign_cells_arrow_expr(cents: list, dim: int) -> "F.Column":
    """Vectorized argmax-dot cell assignment as a pandas UDF — the
    large-K strategy of ``assign_ivf_cells`` (guide §4.2: a GEMM-class
    kernel over whole Arrow batches instead of K·dim interpreted
    catalyst lambda evaluations per row).

    Bit-identity with the JVM paths: each product is one IEEE-double
    multiply of the same operands (elements cast to double, centroid
    values round-trip exactly through ``float``), and the accumulator
    adds products in array order starting from 0.0 — the NumPy loop
    below adds one dimension at a time across the whole (rows × K)
    tile, so every (row, centroid) score is the identical
    left-associated sum the ``F.aggregate`` fold / literal fold
    produce. Tiebreak: centroids are scored in ascending-id column
    order, and ``np.argmax`` returns the FIRST maximum (and treats NaN
    as the maximum), matching "highest score, NaN highest, then
    smallest cell id" exactly.

    Constraint: vectors must be non-null with exactly ``dim`` non-null
    elements (null elements arrive as NaN in Arrow and NaN ranks
    HIGHEST, where the JVM struct-max ranks a null score LOWEST).
    A null or ragged vector raises a named ``ValueError`` before
    ``np.stack``.

    pandas is imported here, not at module level, and the UDF's type
    hints are attached as objects so they resolve without it. The UDF
    references only NumPy, pandas and values it closes over — never
    this package — so Python workers run it without importing
    ``embeddinghub_spark``.
    """
    import numpy as np
    import pandas as pd

    ordered = sorted((int(c), [float(x) for x in v]) for c, v in cents)
    cmat = np.array([v for _, v in ordered], dtype=np.float64)  # (K, dim)
    cids = np.array([c for c, _ in ordered], dtype=np.int64)

    def _best_cell(batch):
        vecs = batch.to_numpy()
        for i, v in enumerate(vecs):
            if v is None or len(v) != dim:
                got = "null vector" if v is None else f"length {len(v)}"
                raise ValueError(
                    f"assign_ivf_cells: {got}, expected dim {dim} "
                    f"(batch position {i})"
                )
        x = np.stack(vecs).astype(np.float64, copy=False)
        acc = np.zeros((x.shape[0], cmat.shape[0]), dtype=np.float64)
        for d in range(dim):
            # one IEEE add of the d-th product onto every (row, cell)
            # accumulator — the same left-to-right order as the fold
            acc += x[:, d : d + 1] * cmat[None, :, d]
        return pd.Series(cids[np.argmax(acc, axis=1)])

    _best_cell.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    return F.pandas_udf(_best_cell, "long")


def assign_ivf_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cell",
    centroid_vec_col: str = "centroid",
    dim: int | None = None,
    cells: list | None = None,
) -> DataFrame:
    """Assign every vector to its nearest (max-dot) centroid cell —
    the inverted-file build step. Deterministic tiebreak: highest
    score, then smallest cell id. ``cells`` (a pre-collected
    ``_collect_cells`` list) skips the collect job when the caller
    already holds the quantizer driver-side.

    Scale shape — the argmax is computed WITHOUT shuffling the corpus:

    - K·dim ≤ 8192 and ``dim`` known: centroids
      (small by construction) are collected and folded into the plan
      as literals; one staged projection computes the K dot products
      (each its own codegen-split expression), a second takes
      ``greatest`` over (score, -cell) structs. Map-only: ZERO joins,
      ZERO exchanges — assignment of a 100 TB corpus is embarrassingly
      parallel. (The previous design broadcast-joined the corpus ×K
      and ran a row_number window — a shuffle of K× the corpus bytes.)
    - larger K with ``dim`` known: vectorized Arrow argmax
      (``_assign_cells_arrow_expr``) — still map-only (zero joins,
      zero exchanges); the K dot products per row run as one NumPy
      tile per Arrow batch instead of K·dim interpreted catalyst
      lambda evaluations, bit-identical accumulation order. This is
      the K ∝ N regime (semantic_dedup auto-sizing), where the
      previous broadcast-join+aggregate fallback made assignment
      O(N·K·dim) interpreted — measured quadratic (r16 sf1/sf0.1
      ratio 11.3 on semantic_dedup).
    - unknown dim / incomplete centroids: broadcast join + per-vector
      ``max(struct(score, -cell, vec))`` hash aggregate. The ×K
      amplification collapses in the partial aggregate inside the same
      task that produced it, so the exchange carries one row per
      vector, not K.

    NaN scores rank highest in all paths (Spark double ordering);
    cells must have numeric ids (row_number/kmeans construction).

    Input requirement: every vector is non-null with exactly ``dim``
    non-null elements. The Arrow path raises a ``ValueError`` on a
    null or ragged vector; the literal-fold and broadcast paths score
    such a vector null against every centroid, so it silently lands
    in the smallest cell id.
    """
    cell_dt = centroids.schema[centroid_id_col].dataType
    cents = (
        cells
        if cells is not None
        else _collect_cells(centroids, centroid_id_col, centroid_vec_col)
    )
    k = len(cents)
    inline_ok = _inline_ok(cents, vec_col, dim)
    if inline_ok:
        # argmax via array_max over (score, -id) structs: same
        # ordering semantics greatest() had (NaN ranks highest,
        # ties prefer the smaller cell id via the negated id)
        fold = _cells_fold_sql(cents, vec_col, dim)
        best = F.expr(
            f"array_max(transform({fold},"
            " p -> named_struct('s', p.s, 'nc', -p.id)))"
        )
        return vectors.select(
            F.col(id_col),
            F.col(vec_col),
            (-best.getField("nc")).cast(cell_dt).alias(centroid_id_col),
        )
    if _arrow_ok(cents, vec_col, dim):
        best_cell = _assign_cells_arrow_expr(cents, dim)
        return vectors.select(
            F.col(id_col),
            F.col(vec_col),
            best_cell(F.col(vec_col)).cast(cell_dt).alias(centroid_id_col),
        )
    paired = vectors.join(F.broadcast(centroids))
    scored = paired.select(
        F.col(id_col),
        F.col(vec_col),
        F.col(centroid_id_col),
        dot(vec_col, centroid_vec_col, dim).alias("_cscore"),
    )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("_cscore").alias("s"),
                (-F.col(centroid_id_col)).alias("nc"),
                F.col(vec_col).alias("v"),
            )
        ).alias("_b")
    )
    return best.select(
        F.col(id_col),
        F.col("_b.v").alias(vec_col),
        (-F.col("_b.nc")).cast(cell_dt).alias(centroid_id_col),
    )


def knn_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    metric: str = "cosine",
    dim: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer:
    vectors are bucketed by nearest centroid; each query probes only
    its ``nprobe`` nearest cells and scores exactly within them.

    The default quantizer is deterministic — centroids are the first
    ``n_cells`` vectors by id — so the whole index is replayable by a
    SQL oracle. Pass ``centroids`` (a (cell, centroid) frame, e.g.
    from ``kmeans_centroids``) for production recall; every downstream
    step (assignment, probe, scoring) is unchanged — the quantizer is
    just a DataFrame.

    Scale shape: build = one broadcast join over the corpus (narrow),
    probe = candidates bounded by nprobe/n_cells of the corpus per
    query, scored with the same two-stage top-k as the exact path.
    """
    if centroids is None:
        centroids = default_centroids(
            vectors, n_cells, id_col, vec_col
        ).localCheckpoint(eager=False)
    cents = _collect_cells(centroids, "cell", "centroid")
    # the materialized inverted file IS the index: checkpointing it
    # (lazily) also stops whole-stage codegen from fusing the K×dim
    # literal scoring expressions into the probe join's generated
    # method (a janino compile measured at ~2 s per query locally)
    assigned = assign_ivf_cells(
        vectors, centroids, id_col, vec_col, dim=dim, cells=cents
    ).localCheckpoint(eager=False)

    # queries probe their nprobe nearest cells. With an inlineable
    # quantizer the top-nprobe cells are picked in ONE projection
    # (array_sort over (−score, cell) structs — score desc, cell asc,
    # same order the window variant used): no broadcast, no exchange,
    # no window on the query side.
    if _inline_ok(cents, query_vec_col, dim):
        probes = _ivf_query_probes(
            queries, centroids, cents, nprobe, query_id_col, query_vec_col, dim
        )
    else:
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
        )

    if metric == "cosine":
        # norms once per row before the pairing (see knn_bruteforce)
        assigned = assigned.withColumn("_vn", norm(vec_col, dim))
        probes = probes.withColumn("_qn", norm(query_vec_col, dim))
        score = dot(vec_col, query_vec_col, dim) / (
            F.col("_vn") * F.col("_qn")
        )
    elif metric == "l2":
        score = -l2_distance(vec_col, query_vec_col, dim)
    elif metric == "dot":
        score = dot(vec_col, query_vec_col, dim)
    else:
        raise ValueError(f"unknown metric {metric}")
    paired = assigned.join(F.broadcast(probes), "cell")
    scored = paired.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        score.alias("score"),
    )
    return _topk_per_query(
        scored, k, [F.col("score").desc(), F.col("neighbor_id").asc()]
    )


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin fan-out when the scan yields fewer splits than
    cores — a single small parquet file otherwise serializes every
    downstream map stage (and the stream side of a broadcast join) on
    one task. On a real cluster the scan has >= cores splits and this
    is the identity, so no shuffle is ever added at scale."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def random_hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy needed
    at plan-build time, reproducible across runs)."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            v.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(v)
    return planes


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 16,
    seed: int = 7,
    bucket_col: str = "lsh_bucket",
) -> Column | DataFrame:
    """Sign-random-projection LSH bucket id (0..2^n_planes-1).

    Same-bucket vectors are cosine-likely-similar; used to scope both
    ANN probing and near-duplicate candidate generation. JVM-side only:
    the hyperplanes are literal arrays folded into the plan.

    Default 16 planes = 65,536 buckets: at corpus scale the bucket
    equi-self-join stays near-linear (bucket sizes bounded); recall is
    recovered by banding the planes (see ``dedup.embedding_near_
    duplicates`` — any-band-match candidates, MinHash-style) rather
    than by shrinking the bucket space.

    Implementation: one nested fold over a 2-D plane literal built as
    a SINGLE sql-string expression. The plane matrix as ``F.lit``
    calls costs dim×n_planes py4j round-trips of driver latency per
    query build; as one parsed literal it costs one. The fold itself
    stays a higher-order ``aggregate``: the fully unrolled
    dim×n_planes add-chain was MEASURED SLOWER here (1.47 s vs 0.77 s
    at sf0.1 — a ~1,024-node expression tree blows past codegen's
    method-size sweet spot), the opposite trade from the pairwise
    metrics above. Same arithmetic in the same left-to-right double
    order as always, so bucket ids are bit-identical.
    """
    bucket = _lsh_bucket_expr(vec_col, dim, n_planes, seed)
    return df.withColumn(bucket_col, bucket)


def _expr_gateway_key():
    """Identity of the live py4j gateway — a memoized JVM Column is
    only reusable while the gateway that minted it is alive (one per
    process in practice; sessions come and go on top of it)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return id(sc._gateway) if sc is not None else None


_LSH_EXPR_CACHE: dict = {}


def _lsh_bucket_expr(vec_col: str, dim: int, n_planes: int, seed: int):
    """Build (once per process) the parsed bucket Column for a given
    (vec_col, dim, n_planes, seed). The expression embeds a
    dim x n_planes literal plane matrix: as SQL text it is ~40 KB and
    its catalyst parse costs ~90-140 ms of DRIVER time per call
    (measured r16) — and the ingest/probe/near-dup paths build it up
    to 3x per micro-batch. The parsed Column is an immutable JVM
    expression tree, safe to splice into any plan on the same gateway,
    so memoizing it changes nothing about what executes."""
    key = (_expr_gateway_key(), vec_col, dim, n_planes, seed)
    cached = _LSH_EXPR_CACHE.get(key)
    if cached is not None:
        return cached
    planes = random_hyperplanes(dim, n_planes, seed)
    planes_sql = "array(" + ", ".join(
        "array(" + ", ".join(f"cast('{w!r}' as double)" for w in p) + ")"
        for p in planes
    ) + ")"
    bucket = F.expr(
        f"cast(aggregate(sequence(0, {n_planes - 1}), 0L, (acc, i) -> "
        f"acc + (case when aggregate(zip_with({_bq(vec_col)}, "
        f"element_at({planes_sql}, i + 1), (x, y) -> cast(x as double) * y), "
        f"cast(0.0 as double), (a, x) -> a + x) >= 0 "
        f"then cast(pow(2.0, i) as bigint) else 0L end)) as int)"
    )
    _LSH_EXPR_CACHE[key] = bucket
    return bucket


def knn_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    n_planes: int = 16,
    bands: int = 2,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket, banded.

    The ``n_planes`` sign bits split into ``bands`` bands; a vector is
    a candidate if it matches the query on ANY band (MinHash-style
    banding). More planes per band → smaller buckets (linear scaling);
    more bands → higher recall. The join is band-equi + broadcast →
    no N×Q explosion.
    """
    from embeddinghub_spark.functions.dedup import _bands, _bit_slices

    slices = _bit_slices("lsh_bucket", n_planes, bands, "n_planes")
    v = with_lsh_bucket(vectors, vec_col, dim, n_planes, seed)
    q = with_lsh_bucket(queries, query_vec_col, dim, n_planes, seed)

    def banded(df: DataFrame) -> DataFrame:
        keep = [c for c in df.columns if c != "lsh_bucket"]
        return _bands(df, keep, bands, slices)

    # norms once per row before the pairing (see knn_bruteforce note)
    vb = banded(v.withColumn("_vn", norm(vec_col, dim)))
    qb = banded(q.withColumn("_qn", norm(query_vec_col, dim)))
    paired = vb.join(F.broadcast(qb), ["band", "band_val"])
    # a pair matching on several bands appears once per band — dedup
    # before ranking (candidate set is already bucket-bounded, small)
    scored = paired.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        (
            dot(vec_col, query_vec_col, dim)
            / (F.col("_vn") * F.col("_qn"))
        ).alias("score"),
    ).distinct()
    return _topk_per_query(
        scored, k, [F.col("score").desc(), F.col("neighbor_id").asc()]
    )


def kmeans_centroids(
    vectors: DataFrame,
    k: int,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Lloyd's iterations in pure DataFrames → a (cell, centroid)
    frame for ``knn_ivf``'s quantizer slot.

    Deterministic by construction: init = first ``k`` vectors by id
    (the same seedless choice the IVF oracle uses), then ``n_iters``
    rounds of assign → element-wise mean. Each round is one broadcast
    assignment (narrow) plus one (cell, position) aggregation shuffle
    whose volume is |vectors|·dim scalars — the classic distributed
    KMeans shape; k and dim are index-build constants, so the reduce
    side is tiny. An empty cell keeps its previous centroid (standard
    Lloyd's degeneracy guard, no resampling randomness).
    """
    centroids = (
        vectors.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("centroid"))
        .withColumn("cell", F.row_number().over(Window.orderBy(F.col("_cid").asc())))
        .select("cell", "centroid")
        .localCheckpoint(eager=False)
    )
    for _ in range(n_iters):
        assigned = assign_ivf_cells(vectors, centroids, id_col, vec_col, dim=dim)
        means = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("m")))
                ).alias("pm")
            )
            .select(
                "cell",
                F.expr("transform(pm, s -> cast(s.m as float))").alias("centroid"),
            )
        )
        # empty cells keep their previous centroid (Lloyd's guard)
        centroids = (
            centroids.alias("old")
            .join(means.alias("new"), "cell", "left")
            .select(
                "cell",
                F.coalesce(F.col("new.centroid"), F.col("old.centroid")).alias(
                    "centroid"
                ),
            )
            .localCheckpoint(eager=False)
        )
    return centroids


def ivf_inertia(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> float:
    """Σ ||v − centroid(v)||² over the corpus — the KMeans objective;
    used to verify refinement actually improves the quantizer."""
    assigned = assign_ivf_cells(vectors, centroids, id_col, vec_col, dim=dim)
    with_c = assigned.join(F.broadcast(centroids), "cell")
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return with_c.agg(F.sum(d2)).first()[0]


# -- product quantization (PQ) ------------------------------------------------
#
# The ANN memory-compression path: a dim-d float vector (4·d bytes)
# becomes m one-byte codes — at 100 TB the corpus index shrinks
# ~dim·4/m ×, which is what makes billion-vector search fit a
# cluster's RAM at all (FAISS's IVF-PQ layout; our IVF above is the
# coarse stage, this is the fine stage). Scoring is ADC (asymmetric
# distance computation): per query, a (m × k_codes) table of partial
# squared distances is computed ONCE, and every corpus vector's
# approximate distance is m table lookups — no float math per pair.
#
# Every PQ op builds those tables as a COLUMN (`pq_query_tables`,
# map-only over the query frame: no driver collect, no bound on the
# query count), encodes the corpus through one expression
# (`_pq_codes_sql`) and scores through one tail (`_adc_topk`).


def pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    refine: bool = False,
    n_iters: int = 5,
) -> list[list[list[float]]]:
    """PQ codebooks ``cb[j][c] -> subvector`` (Python doubles,
    collected once — k_codes·dim scalars).

    Default (``refine=False``): deterministic — subspace j's codebook
    is the j-th dim/m slice of the first ``k_codes`` vectors by id,
    the same oracle-replayable quantizer convention as the IVF
    default. ``refine=True`` runs per-subspace Lloyd's iterations
    from that init (FAISS-style PQ training, the production-recall
    path — matches the recall intent of the reference's trained HNSW
    index, embeddinghub/embeddingstore/index.cc:10-54): ALL m
    subspaces train TOGETHER keyed on (subspace, code), so each
    iteration is one map-only literal-fold encode of the corpus plus
    one (subspace, code, position) mean shuffle of |vectors|·dim
    scalars — the classic distributed KMeans shape, m subproblems in
    the same two jobs, never m separate runs. Empty codes keep their
    previous codeword (Lloyd's degeneracy guard). Refined means come
    from distributed avg (not bit-replayable across partitionings) —
    keep ``refine=False`` anywhere an engine-independent oracle must
    replay the index."""
    _pq_check(dim, m)
    d = dim // m
    rows = (
        vectors.orderBy(F.col(id_col).asc())
        .limit(k_codes)
        .select(vec_col)
        .collect()
    )
    cb = [
        [[float(x) for x in r[0][j * d : (j + 1) * d]] for r in rows]
        for j in range(m)
    ]
    if not refine:
        return cb

    # the corpus as double arrays, projected once and reused per iter;
    # position p of a vector is coordinate p % d of subspace p div d
    dv = vectors.select(
        F.expr(f"transform({_bq(vec_col)}, x -> cast(x as double))").alias("v")
    ).localCheckpoint(eager=False)
    for _ in range(n_iters):
        means = (
            dv.select(
                F.expr(_pq_codes_sql(cb, _pq_slice("v", d))).alias("codes"),
                F.posexplode("v").alias("pos", "x"),
            )
            .select(
                F.expr(f"pos div {d}").alias("j"),
                F.expr(f"element_at(codes, cast(pos div {d} as int) + 1)")
                .alias("code"),
                F.expr(f"pos % {d}").alias("p"),
                "x",
            )
            .groupBy("j", "code", "p")
            .agg(F.avg("x").alias("mean"))
            .collect()
        )
        new_cb = [[list(cv) for cv in subcb] for subcb in cb]
        for r in means:  # m·k_codes·d rows — bounded driver-side
            new_cb[r["j"]][r["code"]][r["p"]] = float(r["mean"])
        cb = new_cb
    return cb


def _pq_cb_sql(cb: list[list[list[float]]]) -> str:
    return (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{x!r}D" for x in cv) + ")" for cv in sub
            )
            + ")"
            for sub in cb
        )
        + ")"
    )


def _pq_check(dim: int, m: int, cb: list[list[list[float]]] | None = None) -> None:
    """Refuse a PQ configuration that cannot encode ``dim``-long
    vectors before any Spark job runs: m must divide dim, and a
    supplied codebook must hold m subspaces of equally many
    dim/m-long codewords. Unchecked, a remainder silently scores only
    m·(dim // m) dimensions and a mismatched codebook fails mid-job
    on an array index."""
    shape = None
    ok = m > 0 and dim % m == 0
    if cb is not None:
        k = len(cb[0]) if cb else 0
        shape = (len(cb), k, len(cb[0][0]) if k else 0)
        ok = ok and len(cb) == m and k > 0 and all(
            len(sub) == k and all(len(cv) == dim // m for cv in sub)
            for sub in cb
        )
    if not ok:
        raise ValueError(
            "PQ needs m to divide dim and a codebook of m subspaces of "
            f"dim/m-long codewords; got dim={dim}, m={m}, cb shape="
            f"{shape} (subspaces, codes, subvector length)"
        )


def _pq_slice(arr_sql: str, d: int) -> str:
    """Subvector ``j`` (the 1-based subspace lambda variable) of a
    dim-long array expression."""
    return f"slice({arr_sql}, (j - 1) * {d} + 1, {d})"


def _ssd_sql(a_sql: str, b_sql: str) -> str:
    """Ordered squared-L2 fold: 0D + (a1-b1)² + (a2-b2)² + … — the
    left-associated order every engine (and the driver-side Python
    table build) reproduces exactly, so distances are bit-identical."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql},"
        " (a, b) -> (a - cast(b as double)) * (a - cast(b as double))),"
        " 0D, (acc, x) -> acc + x)"
    )


def _pq_codes_sql(cb: list[list[list[float]]], slice_sql: str) -> str:
    """The PQ encoder: ``array<int>`` of each subspace's nearest
    codeword index (lowest squared distance, then lowest code), the
    codebooks riding in the plan as one constant-folded literal.
    ``slice_sql`` is subspace ``j``'s subvector (``_pq_slice``). m and
    the code range come from ``cb`` itself, so codebooks trained on
    fewer than ``k_codes`` vectors encode over the codes they have."""
    m, k = len(cb), len(cb[0])
    seqc = "array(" + ", ".join(str(c) for c in range(k)) + ")"
    ssd = _ssd_sql("cv", slice_sql)
    return (
        f"transform(sequence(1, {m}), j -> "
        f"array_min(zip_with(element_at({_pq_cb_sql(cb)}, j), {seqc},"
        f" (cv, c) -> named_struct('s', {ssd}, 'c', c))).c)"
    )


def pq_encode(
    vectors: DataFrame,
    cb: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m nearest-codeword indices:
    ``(id, codes array<int>)``. Map-only — the codebooks ride in the
    plan as one constant-folded literal (compact HOF fold, same
    pattern as the IVF quantizer); zero joins, zero exchanges, so
    encoding a 100 TB corpus is embarrassingly parallel. Tiebreak:
    lowest squared distance, then lowest code."""
    codes = _pq_codes_sql(cb, _pq_slice(_bq(vec_col), len(cb[0][0])))
    return vectors.select(F.col(id_col), F.expr(codes).alias("codes"))


def pq_query_tables(
    queries: DataFrame,
    cb: list[list[list[float]]],
    query_vec_col: str = "query_vec",
    tab_col: str = "tab",
) -> DataFrame:
    """ADC distance tables as a COLUMN: tab[j][c] = ssd(cb[j][c],
    query_slice_j), computed JVM-side from the codebook literal —
    map-only over the query table, no driver collect. The fold order
    is the one the registry oracles replay in DuckDB, so distances
    are bit-identical across engines (pinned by the oracle test)."""
    m = len(cb)
    d = len(cb[0][0])
    ssd = _ssd_sql(_pq_slice(_bq(query_vec_col), d), "cv")
    # NB: argument order — codeword as the CAST side: cv is already
    # double (literal), the query slice is float; _ssd_sql casts its
    # SECOND argument, so pass (query_slice, cv) to cast cv (a no-op
    # on doubles) and keep the subtraction order (q - c)² == (c - q)²
    tab = (
        f"transform(sequence(1, {m}), j -> "
        f"transform(element_at({_pq_cb_sql(cb)}, j), cv -> {ssd}))"
    )
    return queries.withColumn(tab_col, F.expr(tab))


def _adc_topk(pairs: DataFrame, m: int, k: int) -> DataFrame:
    """The ADC tail every PQ op shares. Over ``(query_id,
    neighbor_id, tab, codes)`` pairs: dist = Σ_j tab[j][codes[j]]
    (a left-associated double fold from 0D, the order the oracles
    replay), the two-stage top-k by (dist, neighbor_id), and dist
    rounded to 6 for display only — rank is on the exact double."""
    dist = F.expr(
        f"aggregate(sequence(1, {m}), 0D, (acc, j) -> acc +"
        " element_at(element_at(tab, j), element_at(codes, j) + 1))"
    )
    scored = pairs.select("query_id", "neighbor_id", dist.alias("dist"))
    top = _topk_per_query(
        scored, k, [F.col("dist").asc(), F.col("neighbor_id").asc()]
    )
    return top.select(
        "query_id", "neighbor_id", F.round("dist", 6).alias("dist"), "rank"
    )


def knn_pq(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int = 64,
    cb: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k by PQ + ADC: corpus vectors are scored
    against each query through its (m × k_codes) distance table —
    m array lookups per (vector, query), no per-pair float math.

    Scale shape: encode is map-only; each query computes its own ADC
    table as a column (`pq_query_tables`, map-only), and the pairing
    is a broadcast of the (query, table) frame against the encoded
    corpus — the corpus×Q pairing `knn_bruteforce` uses, with m
    byte-code lookups per pair instead of a dim-length fold. The
    corpus never shuffles until the two-stage top-k's parts×Q×k
    exchange. The broadcast holds Q·m·k_codes doubles — fine to ~10⁶
    queries; past that, exhaustive scoring of every (vector, query)
    pair is the real cost and belongs on the cell-pruned `knn_ivfpq`
    layout instead.

    Output: (query_id, neighbor_id, dist rounded to 6, rank) — rank
    on the exact double, rounding display-only."""
    _pq_check(dim, m, cb)
    if cb is None:
        cb = pq_codebooks(vectors, m, k_codes, id_col, vec_col, dim)
    enc = pq_encode(vectors, cb, id_col, vec_col)
    qtab = pq_query_tables(queries, cb, query_vec_col).select(
        F.col(query_id_col).alias("query_id"), F.col("tab")
    )
    pairs = enc.join(F.broadcast(qtab)).select(
        "query_id", F.col(id_col).alias("neighbor_id"), "tab", "codes"
    )
    return _adc_topk(pairs, m, k)


def knn_ivfpq(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int = 64,
    centroids: DataFrame | None = None,
    cb: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF + PQ composed — the standard billion-scale ANN layout
    (FAISS IVFPQ shape): the coarse quantizer prunes the corpus to
    the query's ``nprobe`` cells, and the survivors are scored by ADC
    over the query's (m × k_codes) distance table — so per query the
    work is ``nprobe/n_cells`` of the corpus × m table lookups, and
    the index stores one byte per code instead of 4·dim.

    Codes here quantize the RAW vectors (IVF-flat storage with PQ
    scoring); encoding the cell RESIDUALS instead is
    ``knn_ivfpq_residual``. Both quantizers are the deterministic
    replayable defaults (first-by-id); swap KMeans for production.

    Scale shape: cell assignment and PQ encode are both map-only
    literal folds (zero shuffles over the corpus); the ADC tables are
    computed per probe row as a column (`pq_query_tables`). The
    probe↔corpus pairing is a plain equi-join on cell with NO
    broadcast hint: AQE broadcasts the (query, cell, table) frame
    while it fits and falls back to a cell-partitioned shuffle join
    for huge query sets. The only other corpus-wide exchange is the
    two-stage top-k's bounded parts×Q×k window input. Output:
    (query_id, neighbor_id, dist, rank), dist rounded to 6.
    """
    _pq_check(dim, m, cb)
    if centroids is None:
        centroids = default_centroids(
            vectors, n_cells, id_col, vec_col
        ).localCheckpoint(eager=False)
    cents = _collect_cells(centroids, "cell", "centroid")
    if cb is None:
        cb = pq_codebooks(vectors, m, k_codes, id_col, vec_col, dim)
    enc = _ivfpq_corpus_enc(vectors, centroids, cents, cb, id_col, vec_col, dim)
    probes = _ivf_query_probes(
        queries, centroids, cents, nprobe, query_id_col, query_vec_col, dim
    )
    qtab = pq_query_tables(probes, cb, query_vec_col).select(
        F.col(query_id_col).alias("query_id"), F.col("cell"), F.col("tab")
    )
    pairs = enc.join(qtab, "cell").select(
        "query_id", F.col(id_col).alias("neighbor_id"), "tab", "codes"
    )
    return _adc_topk(pairs, m, k)


def _ivfpq_corpus_enc(
    vectors, centroids, cents, cb, id_col, vec_col, dim
) -> DataFrame:
    """Corpus side of the IVFPQ layout: (id, cell, codes) from ONE
    map-only pass (cell fold + PQ encode as two projections over the
    same scan — joining a separate pq_encode output back on id would
    shuffle the corpus), checkpointed for the probe join."""
    assigned = assign_ivf_cells(
        vectors, centroids, id_col, vec_col, dim=dim, cells=cents
    )
    codes = _pq_codes_sql(cb, _pq_slice(_bq(vec_col), len(cb[0][0])))
    return assigned.select(
        F.col(id_col), F.col("cell"), F.expr(codes).alias("codes")
    ).localCheckpoint(eager=False)


def _ivf_query_probes(
    queries, centroids, cents, nprobe, query_id_col, query_vec_col, dim
) -> DataFrame:
    """Query side of IVF probing: (query_id, query_vec, cell) rows for
    the query's nprobe best cells — the same inline literal fold the
    corpus assignment uses, map-only, no collect."""
    cell_dt = centroids.schema["cell"].dataType
    fold = _cells_fold_sql(cents, query_vec_col, dim)
    return queries.select(
        F.col(query_id_col),
        F.explode(
            F.expr(
                f"slice(array_sort(transform({fold},"
                " p -> named_struct('ns', -p.s, 'cell', p.id))),"
                f" 1, {int(nprobe)})"
            )
        ).alias("_p"),
        F.col(query_vec_col),
    ).select(
        query_id_col,
        query_vec_col,
        F.col("_p.cell").cast(cell_dt).alias("cell"),
    ).localCheckpoint(eager=False)


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_id_col: str = "query_id",
    neighbor_id_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k of an approximate ANN result against the exact
    baseline: per query, |approx ∩ exact| / |exact| over the neighbor
    sets (pass both frames already cut to their top-k). The quality
    gauge every index tuning loop needs — a plan can be scale-sound
    and still return junk; this makes recall a number a test can pin.
    One aggregate exchange on query_id (both inputs are ≤ Q·k rows by
    construction)."""
    a = approx.select(
        F.col(query_id_col).alias("query_id"),
        F.col(neighbor_id_col).alias("_n"),
    )
    e = exact.select(
        F.col(query_id_col).alias("query_id"),
        F.col(neighbor_id_col).alias("_n"),
    )
    hits = e.join(a, ["query_id", "_n"], "left_semi")
    denom = e.groupBy("query_id").agg(F.count("*").alias("_k"))
    num = hits.groupBy("query_id").agg(F.count("*").alias("_h"))
    return (
        denom.join(num, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("_h"), F.lit(0)) / F.col("_k")).alias("recall"),
        )
    )


def _py_dot(c, q):
    """Driver-side dot with the plan's left-assoc double fold order."""
    s = 0.0
    for a, b in zip(c, q):
        s = s + a * float(b)
    return s


def _residual_index(vectors, cents, k_codes, m, dim, id_col, vec_col):
    """Residual-IVFPQ index constants: the centroid matrix as one SQL
    literal (element_at(..., cell) works because cells are 1..K by
    row_number), and the residual codebooks — subspace slices of
    (first-k vectors − their own cell centroid), with assignment
    replayed driver-side in the same left-assoc fold order the plan
    runs (oracle-pinned)."""
    d = dim // m
    cent_vecs = {int(cid): [float(x) for x in v] for cid, v in cents}
    cents_arr_sql = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{x!r}D" for x in cent_vecs[cid]) + ")"
            for cid in sorted(cent_vecs)
        )
        + ")"
    )
    first = (
        vectors.orderBy(F.col(id_col).asc())
        .limit(k_codes)
        .select(vec_col)
        .collect()
    )
    resids = []
    for r in first:
        v = [float(x) for x in r[0]]
        best = max(
            ((_py_dot(cent_vecs[cid], v), -cid) for cid in sorted(cent_vecs)),
        )
        cent = cent_vecs[-best[1]]
        resids.append([v[i] - cent[i] for i in range(dim)])
    cb = [
        [rv[j * d : (j + 1) * d] for rv in resids]
        for j in range(m)
    ]
    return cents_arr_sql, cb


def _residual_corpus_enc(
    vectors, centroids, cents, cents_arr_sql, cb, id_col, vec_col, dim
) -> DataFrame:
    """Corpus side of residual IVFPQ: (id, cell, codes) where codes
    quantize v − centroid(cell(v)) — one map-only pass (cell fold +
    residual encode over the same scan), checkpointed."""
    assigned = assign_ivf_cells(
        vectors, centroids, id_col, vec_col, dim=dim, cells=cents
    )
    d = len(cb[0][0])
    rslice = (
        f"zip_with({_pq_slice(_bq(vec_col), d)},"
        f" {_pq_slice(f'element_at({cents_arr_sql}, cell)', d)},"
        " (b, cc) -> cast(b as double) - cc)"
    )
    return assigned.select(
        F.col(id_col), F.col("cell"),
        F.expr(_pq_codes_sql(cb, rslice)).alias("codes"),
    ).localCheckpoint(eager=False)


def knn_ivfpq_residual(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int = 64,
) -> DataFrame:
    """IVF + PQ over cell RESIDUALS — FAISS's default IVFPQ encoding:
    each vector quantizes ``v − centroid(cell(v))`` instead of ``v``,
    so the codebooks only have to cover the within-cell spread
    (better recall per code byte than raw-vector PQ, which must span
    the whole space). ADC tables become per-(query, probed cell):
    each probe ROW computes its own table as a column from the
    query's residual against that row's centroid.

    Everything else matches ``knn_ivfpq``: one map-only corpus pass
    computes cell + residual codes (centroid matrix and codebooks are
    constant-folded literals), the cell equi-join is left to AQE
    (broadcast while the probe frame fits, shuffle join past that),
    and the only other corpus exchange is the two-stage top-k.
    Quantizers stay the deterministic first-by-id convention so a SQL
    oracle replays the whole index."""
    _pq_check(dim, m)
    centroids = default_centroids(
        vectors, n_cells, id_col, vec_col
    ).localCheckpoint(eager=False)
    cents = _collect_cells(centroids, "cell", "centroid")
    cents_arr_sql, cb = _residual_index(
        vectors, cents, k_codes, m, dim, id_col, vec_col
    )
    enc = _residual_corpus_enc(
        vectors, centroids, cents, cents_arr_sql, cb, id_col, vec_col, dim
    )
    probes = _ivf_query_probes(
        queries, centroids, cents, nprobe, query_id_col, query_vec_col, dim
    )
    qres = F.expr(
        f"zip_with({_bq(query_vec_col)}, element_at({cents_arr_sql}, cell),"
        " (b, cc) -> cast(b as double) - cc)"
    )
    qtab = pq_query_tables(probes.withColumn("_qres", qres), cb, "_qres").select(
        F.col(query_id_col).alias("query_id"), F.col("cell"), F.col("tab")
    )
    pairs = enc.join(qtab, "cell").select(
        "query_id", F.col(id_col).alias("neighbor_id"), "tab", "codes"
    )
    return _adc_topk(pairs, m, k)


def knn_join(
    vectors: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 2,
    seed: int = 7,
) -> DataFrame:
    """Approximate k-NN SELF-join: top-k cosine neighbors for EVERY
    vector in the table, not for a bounded query set (`knn_lsh` /
    `knn_ivf` broadcast a small query side; here both sides are the
    corpus). This is the batch similarity-join a curation pipeline
    runs corpus-wide — kNN-graph building, retrieval-augmented
    pretraining neighborhoods, cluster seeding.

    Candidate generation is the banded sign-LSH self-join from
    `dedup.embedding_near_duplicates` — ``n_planes`` sign bits split
    into ``bands`` bands, a pair is a candidate if it matches on ANY
    band — but DIRECTED (a != b, both directions survive) because
    every vector needs its own neighbor list; rank = dense top-k per
    source vector over exact cosine, ties broken by neighbor id.

    Scale shape: the only corpus-wide exchanges are the band-equi
    self-join shuffle (bucket sizes bounded by planes-per-band — 256
    buckets per band split each band-shuffle partition of a 100 TB
    corpus near-linearly), the candidate-dedup, and the per-source
    top-k window (partitioned by source id — no global sort). A
    vector whose bands match nothing yields < k (possibly zero)
    neighbors — recall is tunable with bands/n_planes, measured by
    `ann_recall` against the brute-force truth.

    Output: ``(vec_id, neighbor_id, cosine, rank)``, rank 1..<=k.
    """
    from embeddinghub_spark.functions.dedup import _emb_band_pairs, _emb_band_rows

    banded = _emb_band_rows(
        vectors, dim, id_col, vec_col, n_planes, bands, seed
    ).localCheckpoint(eager=False)
    scored = _emb_band_pairs(banded, dim, id_col, vec_col, directed=True).select(
        F.col("id_a").alias(id_col), F.col("id_b").alias("neighbor_id"), "cosine"
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "neighbor_id", "cosine", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    top_k: int = 10,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009):
    combine N retrieval rankings into one — score(q, d) =
    Σ_lists 1/(k + rank_list(q, d)) over the lists where d appears —
    the standard hybrid-retrieval merge (dense kNN + sparse BM25, or
    several ANN indexes) that needs no score calibration because it
    consumes RANKS, not scores.

    Determinism: each contribution is the 1e12-scaled integer
    ``round(1e12/(k+rank))`` summed as BIGINT (exact, aggregation-
    order independent — the repo's scaled-integer protocol), and the
    fused ordering/tiebreak runs on that integer; the double
    ``rrf_score`` is derived once at the end from the identical
    integer, so it is the same double in any engine.

    Scale shape: one unionByName of the (query, id, contribution)
    lists (map-only), one groupBy(query, id) with map-side combine,
    one per-query window. Per-query candidate count is bounded by
    Σ list lengths (each list is already a top-k), so the window
    partition is small by construction — no whale risk, no two-stage
    prune needed.
    """
    from functools import reduce

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contribs = [
        r.select(
            F.col(query_col),
            F.col(id_col),
            F.round(F.lit(1.0e12) / (F.lit(k) + F.col(rank_col)))
            .cast("bigint")
            .alias("_c"),
        )
        for r in rankings
    ]
    fused = (
        reduce(lambda a, b: a.unionByName(b), contribs)
        .groupBy(query_col, id_col)
        .agg(F.sum("_c").alias("_s"))
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("_s").desc(), F.col(id_col).asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col(query_col),
            F.col(id_col),
            (F.col("_s").cast("double") / F.lit(1.0e12)).alias("rrf_score"),
            F.col("rank"),
        )
    )


def sparse_cosine_pairs(
    features: DataFrame,
    id_col: str = "doc_id",
    bucket_col: str = "bucket",
    weight_col: str = "weight",
    min_cosine: float = 0.5,
    max_df: int | None = None,
    df_warning_threshold: int | None = 10_000,
    pinned_input: bool = False,
) -> DataFrame:
    """All-pairs cosine similarity over SPARSE integer feature
    vectors ``(id, bucket, weight)`` — the inverted-index similarity
    join (the DISCO/dimsum family): candidate pairs come ONLY from
    shared buckets, so two documents are compared iff they share at
    least one feature. The third classic similarity-join shape in
    this engine, next to MinHash banding (set overlap) and dense
    embedding LSH (vector angle) — this one is exact cosine over
    term-count vectors.

    Exactness protocol: weights are bigints (``hash_vectorizer``
    output), so each pair's dot product is an EXACT integer sum and
    each vector's squared norm an exact integer; the only floats are
    the final sqrt/divide, identical in any engine, rounded to 6.

    Scale shape: per-id squared norms (one exchange, |ids| rows) →
    bucket self-join (id1 < id2) emitting exact partial products →
    groupBy(pair) sum. The join is BUCKET-bounded: work is
    Σ_buckets df², so the scale lever is ``max_df`` — drop buckets
    shared by more than ``max_df`` ids (stop-feature pruning, the
    standard trick; dropped buckets only remove ubiquitous features,
    and the pruning is part of the op's definition so the oracle
    replays it bit for bit). The feature frame is localCheckpoint'd
    (feeds norms AND both join sides).

    Landmine guard (VERDICT r8: an unpruned run on features hashed
    into a FIXED dim measured ×21 at ×10 data — df ∝ N makes
    Σ_b df² ∝ N²): when ``max_df`` is None, one cheap bucket-df
    aggregate runs up front and a RuntimeWarning fires if the
    largest bucket df exceeds ``df_warning_threshold`` (that bucket
    alone implies ≥ threshold²/2 candidate pairs). Set ``max_df``
    (e.g. 1000) for any real corpus, size the hash dim to the
    corpus, or pass ``df_warning_threshold=None`` to skip the probe
    on a corpus you know is bounded.

    Cost contract (ADVICE r9): with ``max_df`` unset and the
    threshold set, the guard is an EAGER Spark job at
    DataFrame-construction time — one scan of ``features`` plus a
    count-by-bucket — paid even if the returned plan is never
    executed. The scan is not wasted work when the plan IS executed
    (it materializes the same lazy localCheckpoint the first action
    would pay), but callers constructing plans speculatively should
    pass ``df_warning_threshold=None`` (or set ``max_df``, which
    folds the df aggregate into the lazy plan itself).

    Output: (id_a, id_b, dot, cosine) for pairs with
    cosine >= min_cosine, id_a < id_b.
    """
    # ``pinned_input=True`` (r17): when the caller already holds the
    # feature frame as a materialized checkpoint (the entry's shared
    # eager build), the two internal localCheckpoints below are pure
    # overhead — they re-cache bytes that are already lineage-free and
    # their UnknownPartitioning forces the downstream self-join to
    # rebuild exchanges AQE could otherwise reuse. Strict alternating
    # A/B at sf1: median 7.31 -> 5.13 s, min 6.38 -> 3.92 s. Unpinned
    # callers keep the checkpoints (the feature build would otherwise
    # re-execute once per reference: norms + both join sides + prune).
    feats = features.select(
        F.col(id_col).alias("_id"),
        F.col(bucket_col).alias("_b"),
        F.col(weight_col).cast("bigint").alias("_w"),
    )
    if not pinned_input:
        feats = feats.localCheckpoint(eager=False)
    if max_df is not None:
        keep = (
            feats.groupBy("_b")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_b")
        )
        feats = feats.join(keep, "_b")
        if not pinned_input:
            feats = feats.localCheckpoint(eager=False)
    elif df_warning_threshold is not None:
        import warnings

        top = (
            feats.groupBy("_b")
            .agg(F.count(F.lit(1)).alias("_df"))
            .agg(F.max("_df").alias("_m"))
            .first()
        )
        top_df = int(top["_m"]) if top and top["_m"] is not None else 0
        if top_df > int(df_warning_threshold):
            warnings.warn(
                f"sparse_cosine_pairs: largest feature bucket is shared "
                f"by {top_df} ids (> {int(df_warning_threshold)}) and "
                f"max_df is unset — the bucket self-join emits "
                f"O(df^2) candidate pairs per bucket, ~"
                f"{top_df * (top_df - 1) // 2} from this bucket alone. "
                f"Pass max_df (stop-feature pruning) or size the hash "
                f"dim to the corpus.",
                RuntimeWarning,
                stacklevel=2,
            )
    norms = feats.groupBy("_id").agg(F.sum(F.col("_w") * F.col("_w")).alias("_n2"))
    a = feats.select(
        F.col("_b"), F.col("_id").alias("id_a"), F.col("_w").alias("_wa")
    )
    b = feats.select(
        F.col("_b"), F.col("_id").alias("id_b"), F.col("_w").alias("_wb")
    )
    dots = (
        a.join(b, "_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_wa") * F.col("_wb")).alias("dot"))
    )
    na = norms.select(F.col("_id").alias("id_a"), F.col("_n2").alias("_n2a"))
    nb = norms.select(F.col("_id").alias("id_b"), F.col("_n2").alias("_n2b"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "cosine",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("_n2a").cast("double"))
                    * F.sqrt(F.col("_n2b").cast("double"))
                ),
                6,
            ),
        )
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "dot", "cosine")
    )


def hard_negatives(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    lo: float = 0.3,
    hi: float = 0.9,
    positives: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Semi-hard negative mining for contrastive training (the FaceNet
    band recipe): per anchor, the top-``k`` corpus vectors by cosine
    WITHIN ``[lo, hi)`` — similar enough to be informative, below the
    near-duplicate band that is probably an unlabeled positive. The
    curated complement to ``operators.split.negative_samples``'s
    uniform draws (uniform negatives are mostly too easy; the band is
    where the gradient signal lives).

    Cosines are rounded to 6 decimals BEFORE the band comparison and
    the ranking — the near-dup threshold convention, so band
    membership and order are engine-exact, not ulp-dependent.
    ``positives`` (anchor, id) pairs are excluded, as is the anchor
    itself.

    Scale shape: the V5 broadcast pattern — norms hoisted per row,
    anchors broadcast against the partitioned corpus (never
    shuffled), then the two-stage per-query top-k. For anchor sets
    too large to broadcast, mine per anchor shard.
    """
    if not (0 <= lo < hi):
        raise ValueError(f"need 0 <= lo < hi, got [{lo}, {hi})")
    v = vectors.withColumn("_vn", norm(vec_col, dim))
    q = queries.withColumn("_qn", norm(query_vec_col, dim))
    cos = F.round(
        dot(vec_col, query_vec_col, dim) / (F.col("_vn") * F.col("_qn")), 6
    )
    cand = (
        v.join(F.broadcast(q))
        .select(
            F.col(query_id_col).alias("query_id"),
            F.col(id_col).alias("neg_id"),
            cos.alias("cosine"),
        )
        .filter(
            (F.col("cosine") >= lo)
            & (F.col("cosine") < hi)
            & (F.col("neg_id") != F.col("query_id"))
        )
    )
    if positives is not None:
        cand = cand.join(
            positives.select(
                F.col(query_id_col).alias("query_id"),
                F.col(id_col).alias("neg_id"),
            ),
            ["query_id", "neg_id"],
            "left_anti",
        )
    return _topk_per_query(
        cand, k, [F.col("cosine").desc(), F.col("neg_id").asc()]
    )
