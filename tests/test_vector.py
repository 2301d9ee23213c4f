import math

import pytest
from pyspark.sql import functions as F

from embeddinghub_spark.functions.vector import (
    cosine_similarity,
    dot,
    knn_bruteforce,
    knn_lsh,
    l2_distance,
    with_lsh_bucket,
)


def test_dot_cosine_l2(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], ["a", "b"]
    )
    row = df.select(
        dot("a", "b").alias("d"),
        cosine_similarity("a", "b").alias("c"),
        l2_distance("a", "b").alias("l"),
    ).collect()[0]
    assert row["d"] == pytest.approx(32.0)
    assert row["c"] == pytest.approx(32.0 / (math.sqrt(14) * math.sqrt(77)))
    assert row["l"] == pytest.approx(math.sqrt(27))


def test_knn_bruteforce_exact(spark):
    vectors = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(1, 6)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame([(0, [1.0, 0.0])], ["query_id", "query_vec"])
    # all colinear → cosine tie = 1.0 → tiebreak by neighbor_id asc
    out = knn_bruteforce(vectors, queries, 3).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [1, 2, 3]
    out_l2 = knn_bruteforce(vectors, queries, 2, metric="l2").orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out_l2] == [1, 2]


def test_knn_lsh_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    queries = (
        emb.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(emb, queries, 5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_lsh(emb, queries, 5, dim, n_planes=4).collect()
    }
    # self-match always survives LSH (same bucket by construction)
    for q in [0, 1, 2]:
        assert (q, q) in approx
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4  # 4-plane LSH on random vectors: partial recall OK


def test_lsh_bucket_deterministic(spark):
    df = spark.createDataFrame([(1, [0.5, -0.2, 0.8])], ["vec_id", "embedding"])
    b1 = with_lsh_bucket(df, "embedding", 3).collect()[0]["lsh_bucket"]
    b2 = with_lsh_bucket(df, "embedding", 3).collect()[0]["lsh_bucket"]
    assert b1 == b2
    assert 0 <= b1 < (1 << 16)  # default 16 planes


def test_knn_ivf_recall_and_self_match(spark, sf_dir):
    from embeddinghub_spark.functions.vector import knn_bruteforce, knn_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (
        emb.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(emb, queries, 5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf(emb, queries, 5, n_cells=8, nprobe=3).collect()
    }
    for q in [0, 1, 2]:
        assert (q, q) in approx  # a query's own vector shares its cell
    assert len(exact & approx) / len(exact) >= 0.4


def test_kmeans_refines_ivf_quantizer(spark):
    """Lloyd's iterations must (a) never increase the KMeans objective
    vs the deterministic first-K init and (b) recover obvious cluster
    structure; knn_ivf accepts the refined frame unchanged."""
    import random

    from embeddinghub_spark.functions.vector import (
        assign_ivf_cells,
        ivf_inertia,
        kmeans_centroids,
        knn_ivf,
    )

    rng = random.Random(7)
    centers = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
    rows = []
    for i in range(300):
        c = centers[i % 3]
        rows.append((i, [x + rng.uniform(-0.5, 0.5) for x in c]))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])

    init = kmeans_centroids(vecs, 3, n_iters=0)
    refined = kmeans_centroids(vecs, 3, n_iters=4)
    i0 = ivf_inertia(vecs, init)
    i4 = ivf_inertia(vecs, refined)
    assert i4 <= i0
    # true structure: each refined cell is one blob → inertia near the
    # noise floor (300 points × 3 dims × E[U(-.5,.5)^2]=1/12 ≈ 75)
    assert i4 < 100.0

    # refined cells are pure: every member of a cell shares i%3
    assigned = assign_ivf_cells(vecs, refined)
    mixed = (
        assigned.withColumn("blob", F.col("vec_id") % 3)
        .groupBy("cell")
        .agg(F.countDistinct("blob").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert mixed == 0

    # drop-in quantizer: same knn_ivf plumbing, better cells
    q = spark.createDataFrame([(0, [10.0, 0.0, 0.0])], ["query_id", "query_vec"])
    hits = knn_ivf(vecs, q, 5, n_cells=3, nprobe=1, dim=3, centroids=refined)
    assert hits.count() == 5
    blob_of_hits = {r["neighbor_id"] % 3 for r in hits.collect()}
    assert blob_of_hits == {0}


def test_pq_encode_and_adc_ranking(spark):
    from embeddinghub_spark.functions.vector import (
        knn_pq,
        pq_codebooks,
        pq_encode,
    )

    # 8 well-separated vectors, dim=8, m=2 subspaces, k_codes=8:
    # every vector is its own codeword, so vector c encodes to [c, c]
    # and ADC distance to itself is exactly 0
    vecs = spark.createDataFrame(
        [(i, [float(10 * i + j) for j in range(8)]) for i in range(8)],
        ["vec_id", "embedding"],
    )
    cb = pq_codebooks(vecs, m=2, k_codes=8, dim=8)
    enc = {r["vec_id"]: r["codes"] for r in pq_encode(vecs, cb).collect()}
    assert enc == {i: [i, i] for i in range(8)}

    qs = spark.createDataFrame(
        [(0, [float(j) for j in range(8)])], ["query_id", "query_vec"]
    )
    out = knn_pq(vecs, qs, 3, m=2, k_codes=8, dim=8).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [0, 1, 2]
    assert out[0]["dist"] == 0.0
    assert out[0]["rank"] == 1


def test_ivfpq_composition(spark):
    from embeddinghub_spark.functions.vector import knn_ivfpq

    # 16 separated vectors, dim=8: with n_cells=4/nprobe=2 the query's
    # own cell is probed, its own code distance is 0 -> rank 1 is the
    # query vector itself
    vecs = spark.createDataFrame(
        [(i, [float(100 * i + j) for j in range(8)]) for i in range(16)],
        ["vec_id", "embedding"],
    )
    qs = spark.createDataFrame(
        [(5, [float(500 + j) for j in range(8)])], ["query_id", "query_vec"]
    )
    out = (
        knn_ivfpq(vecs, qs, 3, n_cells=4, nprobe=2, m=2, k_codes=8, dim=8)
        .orderBy("rank")
        .collect()
    )
    assert out[0]["neighbor_id"] == 5 and out[0]["dist"] == 0.0
    assert len(out) == 3
    assert all(r["query_id"] == 5 for r in out)


def test_ann_recall_on_real_embeddings(spark, sf_dir):
    """Recall@10 of every approximate index against the exact
    baseline on the real embeddings table — quality, not just plan
    shape, under test."""
    from pyspark.sql import functions as F

    from embeddinghub_spark.functions.vector import (
        ann_recall,
        knn_bruteforce,
        knn_ivf,
        knn_ivfpq,
        knn_pq,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = knn_bruteforce(emb, qs, 10, dim=64).select("query_id", "neighbor_id")

    def recall_of(approx):
        rows = ann_recall(
            approx.select("query_id", "neighbor_id"), exact
        ).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    # IVF probes 8/16 cells -> high recall; PQ quantizes distances
    # (16 codewords over 2k vectors) -> lower floor, still far above
    # the 10/N ~ 5% random baseline; IVFPQ compounds both
    r_ivf = recall_of(knn_ivf(emb, qs, 10, n_cells=16, nprobe=8, dim=64))
    r_pq = recall_of(knn_pq(emb, qs, 10, m=8, k_codes=16, dim=64))
    r_ivfpq = recall_of(
        knn_ivfpq(emb, qs, 10, n_cells=16, nprobe=8, m=8, k_codes=16, dim=64)
    )
    assert r_ivf >= 0.5, r_ivf
    assert r_pq >= 0.3, r_pq
    assert r_ivfpq >= 0.2, r_ivfpq


def test_ivfpq_residual_self_match_and_recall(spark, sf_dir):
    """Residual encoding: a codebook-member query has residual exactly
    equal to its codeword, so its ADC self-distance is 0; and on the
    real table residual coding must not be worse than random."""
    from pyspark.sql import functions as F

    from embeddinghub_spark.functions.vector import (
        ann_recall,
        knn_bruteforce,
        knn_ivfpq_residual,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_ivfpq_residual(emb, qs, 10, n_cells=16, nprobe=8, dim=64)
    rows = out.collect()
    by_q = {r["query_id"]: r for r in rows if r["rank"] == 1}
    # queries 0..4 are among the first-16 codebook vectors
    assert all(by_q[q]["neighbor_id"] == q and by_q[q]["dist"] == 0.0
               for q in by_q)
    exact = knn_bruteforce(emb, qs, 10, dim=64).select("query_id", "neighbor_id")
    rec = ann_recall(out.select("query_id", "neighbor_id"), exact).collect()
    assert sum(r["recall"] for r in rec) / len(rec) >= 0.2


def test_pq_family_empty_and_guarded_queries(spark):
    """ADVICE round 3: empty query sets must return an empty typed
    frame (not an element_at(...,0) error from sequence(1,0)), and
    string ids with quotes must not break the generated SQL."""
    from embeddinghub_spark.functions.vector import (
        knn_ivfpq,
        knn_ivfpq_residual,
        knn_pq,
    )

    vecs = spark.createDataFrame(
        [(i, [float(100 * i + j) for j in range(8)]) for i in range(16)],
        ["vec_id", "embedding"],
    )
    empty_q = spark.createDataFrame(
        [], "query_id bigint, query_vec array<double>"
    )
    for fn, kw in (
        (knn_pq, dict(m=2, k_codes=8, dim=8)),
        (knn_ivfpq, dict(n_cells=4, nprobe=2, m=2, k_codes=8, dim=8)),
        (knn_ivfpq_residual, dict(n_cells=4, nprobe=2, m=2, k_codes=8, dim=8)),
    ):
        out = fn(vecs, empty_q, 3, **kw)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "query_id", "neighbor_id", "dist", "rank",
        ]

    # string query id containing a single quote: must parse and match
    quoted = spark.createDataFrame(
        [("o'brien", [float(500 + j) for j in range(8)])],
        "query_id string, query_vec array<double>",
    )
    out = knn_pq(vecs, quoted, 1, m=2, k_codes=8, dim=8).collect()
    assert out[0]["query_id"] == "o'brien" and out[0]["neighbor_id"] == 5


def test_ivfpq_codebook_smaller_than_k_codes(spark):
    """A corpus with fewer than k_codes vectors yields codebooks with
    fewer codewords; the encoders must range over the codes the
    codebook has (not 0..k_codes-1, whose padded null distances sort
    first and index past the table). Every codeword here is a corpus
    vector's own slice, so each query's rank-1 neighbor is itself at
    ADC distance 0."""
    from embeddinghub_spark.functions.vector import (
        knn_ivfpq,
        knn_ivfpq_residual,
        knn_pq,
    )

    vecs = spark.createDataFrame(
        [(i, [float((5 * i + 3 * j) % 11) for j in range(8)]) for i in range(8)],
        ["vec_id", "embedding"],
    )
    qs = vecs.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for fn, kw in (
        (knn_pq, {}),
        (knn_ivfpq, dict(n_cells=2, nprobe=2)),
        (knn_ivfpq_residual, dict(n_cells=2, nprobe=2)),
    ):
        rows = fn(vecs, qs, 1, m=2, k_codes=16, dim=8, **kw).collect()
        assert sorted(
            (r["query_id"], r["neighbor_id"], r["dist"]) for r in rows
        ) == [(i, i, 0.0) for i in range(8)], fn.__name__


@pytest.mark.parametrize(
    "case", ["residual_m_not_dividing_dim", "pq_cb_vs_m", "ivfpq_cb_vs_m"]
)
def test_pq_family_misuse_raises_before_any_job(spark, case):
    """m that does not divide dim, or a supplied codebook whose
    subspace count differs from m, raises a ValueError naming dim, m
    and the codebook shape, before any Spark job runs."""
    from embeddinghub_spark.functions.vector import (
        knn_ivfpq,
        knn_ivfpq_residual,
        knn_pq,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(16)],
        ["vec_id", "embedding"],
    )
    qs = vecs.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # valid codebooks for m=4 (4 subspaces of 2-long codewords)
    cb4 = [[[float(c), float(c)] for c in range(4)] for _ in range(4)]
    fn, kw, shape = {
        "residual_m_not_dividing_dim": (knn_ivfpq_residual, dict(m=3), "None"),
        "pq_cb_vs_m": (knn_pq, dict(m=2, cb=cb4), r"\(4, 4, 2\)"),
        "ivfpq_cb_vs_m": (knn_ivfpq, dict(m=2, cb=cb4), r"\(4, 4, 2\)"),
    }[case]
    sc = spark.sparkContext
    group = f"pq_misuse_{case}"
    sc.setJobGroup(group, case)
    try:
        with pytest.raises(
            ValueError, match=rf"dim=8, m={kw['m']}, cb shape={shape}"
        ):
            fn(vecs, qs, 1, dim=8, **kw)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_refined_pq_codebooks_improve_recall(spark, sf_dir):
    """refine=True (per-subspace Lloyd's) must beat the deterministic
    first-by-id codebooks on recall@10 against the exact baseline —
    the quality gauge ann_recall exists for. Floor pinned for both so
    a regression in either path fails loudly."""
    from pyspark.sql import functions as F

    from embeddinghub_spark.functions.vector import (
        ann_recall,
        knn_bruteforce,
        knn_pq,
        pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # queries DISJOINT from the first-16 vectors: the deterministic
    # codebooks quantize those exactly (their slices ARE codewords),
    # which would bias recall toward the untrained init
    qs = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 116)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = knn_bruteforce(emb, qs, 10, dim=64).select("query_id", "neighbor_id")

    def recall_with(cb):
        approx = knn_pq(emb, qs, 10, dim=64, cb=cb).select(
            "query_id", "neighbor_id"
        )
        rows = ann_recall(approx, exact).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    det = pq_codebooks(emb, dim=64)
    ref = pq_codebooks(emb, dim=64, refine=True, n_iters=5)
    r_det, r_ref = recall_with(det), recall_with(ref)
    assert r_ref > r_det, f"refined {r_ref} not better than {r_det}"
    assert r_ref >= 0.30  # trained floor (measured 0.33; det ~0.26)


def test_knn_join_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from embeddinghub_spark.functions.vector import knn_bruteforce, knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kj = knn_join(emb, k=3, dim=64)
    rows = kj.collect()
    assert rows, "knn_join produced no rows"
    # no self-neighbors; ranks within 1..k and unique per source
    per_src = {}
    for r in rows:
        assert r["vec_id"] != r["neighbor_id"]
        assert 1 <= r["rank"] <= 3
        per_src.setdefault(r["vec_id"], []).append((r["rank"], r["cosine"]))
    for src, rs in per_src.items():
        ranks = sorted(x[0] for x in rs)
        assert ranks == list(range(1, len(rs) + 1)), f"rank gap for {src}"
        by_rank = [c for _, c in sorted(rs)]
        assert by_rank == sorted(by_rank, reverse=True), f"cosine not desc {src}"
    # LSH candidates are a SUBSET of the truth: a source's approximate
    # rank-1 cosine can never exceed its brute-force best (computed
    # with self excluded, mirroring the join's a != b)
    qs = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {}
    for r in (
        knn_bruteforce(emb, qs, 2, dim=64)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .collect()
    ):
        s = round(r["score"], 6)
        q = r["query_id"]
        exact[q] = max(exact.get(q, s), s)
    approx1 = {r["vec_id"]: r["cosine"] for r in rows if r["rank"] == 1}
    for src, c in approx1.items():
        assert c <= exact[src] + 1e-9, f"{src}: approx {c} > exact {exact[src]}"


@pytest.mark.parametrize("name", ["knn_pq", "knn_ivfpq", "knn_ivfpq_residual"])
def test_pq_family_matches_oracle(spark, sf_dir, name):
    """Each PQ registry entry equals its DuckDB oracle twin row for
    row (bit-identical ADC distances, same ranking), and the op takes
    a query set of more than 1024 ids without raising: 2 rows each."""
    import duckdb

    import __spark_entry__ as entry
    from embeddinghub_spark.functions import vector

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(entry.oracle_sql()[name]).fetchall())
    got = sorted(
        tuple(r) for r in getattr(entry, f"q_{name}")(spark, sf_dir).collect()
    )
    assert got and got == want

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    reps = spark.range(5).select(F.col("id").alias("_rep"))
    big_q = emb.crossJoin(reps).select(
        (F.col("vec_id") * 10 + F.col("_rep") + 100000).alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    n_q = big_q.count()
    assert n_q > 1024
    out = getattr(vector, name)(emb, big_q, 2, dim=64)
    assert out.count() == 2 * n_q


def test_assign_ivf_cells_fallback_equals_inline(spark, sf_dir):
    """The broadcast-join fallback (unknown dim / K·dim over the
    inline bound) must assign identical cells to the literal-fold
    path — same max-dot argmax, same smaller-cell tiebreak."""
    from embeddinghub_spark.functions.vector import (
        assign_ivf_cells,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_centroids(emb, 8, n_iters=0)
    inline = {
        r["vec_id"]: r["cell"]
        for r in assign_ivf_cells(emb, cents, dim=64).collect()
    }
    fallback = {
        r["vec_id"]: r["cell"]
        for r in assign_ivf_cells(emb, cents, dim=None).collect()
    }
    assert inline == fallback


def test_ensure_parallelism_identity_when_wide(spark):
    from embeddinghub_spark.functions.vector import ensure_parallelism

    sc = spark.sparkContext
    wide = spark.range(1000).repartition(sc.defaultParallelism)
    assert ensure_parallelism(wide) is wide  # identity: no added shuffle
    narrow = spark.range(1000).coalesce(1)
    fanned = ensure_parallelism(narrow)
    assert fanned is not narrow
    assert fanned.rdd.getNumPartitions() == sc.defaultParallelism
    assert fanned.count() == 1000


def test_knn_join_recall_at_sf001():
    """Graph quality, not just shape: banded-LSH kNN-graph edges must
    recover a healthy fraction of the true top-3 neighborhood on the
    real sf0.01 embeddings (fixed dir: recall floors need the denser
    corpus, not the 50-vector sf0.001 default)."""
    from embeddinghub_spark.session import get_spark
    from pyspark.sql import functions as F

    from embeddinghub_spark.functions.vector import (
        ann_recall,
        knn_bruteforce,
        knn_join,
    )

    spark = get_spark(app_name="embeddinghub_spark_tests")
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = (
        knn_bruteforce(emb, qs, 4, dim=64)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )

    def recall_at(bands):
        ap = knn_join(emb, k=3, dim=64, bands=bands).select(
            F.col("vec_id").alias("query_id"), "neighbor_id"
        ).join(qs.select("query_id"), "query_id", "left_semi")
        rows = ann_recall(ap, exact).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    # the banding knob is the recall dial (MinHash banding argument):
    # wider bands = fewer agreeing bits needed = more candidates.
    # Measured on this corpus: ~0.05 / ~0.48 / ~0.99 at 2/4/8 bands —
    # pin the monotone curve and floors against silent degradation
    r2, r4, r8 = recall_at(2), recall_at(4), recall_at(8)
    assert r2 < r4 < r8, (r2, r4, r8)
    assert r4 >= 0.3, r4
    assert r8 >= 0.9, r8


def test_rrf_fuse_consensus_beats_single_list(spark):
    """A doc ranked mid-list by BOTH retrievers outscores a doc that
    tops one list but misses the other (1/61+1/62 > 1/60); exact
    scaled-integer scores; per-query top_k enforced."""
    from embeddinghub_spark.functions.vector import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3)],
        ["query_id", "neighbor_id", "rank"],
    )
    b = spark.createDataFrame(
        [(1, 40, 1), (1, 20, 2), (1, 30, 3)],
        ["query_id", "neighbor_id", "rank"],
    )
    out = rrf_fuse([a, b], k=60, top_k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    # 20 in both lists at rank 2 -> 1/62+1/62; beats solo rank-1 (1/61)
    assert ranked[0] == 20
    assert len(out) == 3
    s = {r["neighbor_id"]: r["rrf_score"] for r in out}
    assert abs(s[20] - (round(1e12 / 62) * 2) / 1e12) < 1e-15


def test_sparse_cosine_pairs_exact_and_pruned(spark):
    """Pair cosine equals the brute-force sparse cosine; pairs with no
    shared bucket never appear; max_df drops ubiquitous buckets from
    both the dot AND the norms (the pruning is part of the op)."""
    import math

    from embeddinghub_spark.functions.vector import sparse_cosine_pairs

    # doc1/doc2 share buckets 1,2; doc3 is disjoint; bucket 9 is in
    # every doc (a stop feature)
    rows = [
        (1, 1, 2), (1, 2, 1), (1, 9, 5),
        (2, 1, 1), (2, 2, 3), (2, 9, 5),
        (3, 7, 4), (3, 9, 5),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "bucket", "weight"])

    out = {
        (r["id_a"], r["id_b"]): (r["dot"], r["cosine"])
        for r in sparse_cosine_pairs(df, min_cosine=0.0).collect()
    }
    # all three pairs share bucket 9 -> all appear
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    dot12 = 2 * 1 + 1 * 3 + 5 * 5
    n1, n2 = math.sqrt(4 + 1 + 25), math.sqrt(1 + 9 + 25)
    assert out[(1, 2)][0] == dot12
    assert abs(out[(1, 2)][1] - round(dot12 / (n1 * n2), 6)) < 1e-9

    # pruning bucket 9 (df=3 > max_df=2): doc3 shares nothing now
    pruned = {
        (r["id_a"], r["id_b"]): r["dot"]
        for r in sparse_cosine_pairs(df, min_cosine=0.0, max_df=2).collect()
    }
    assert set(pruned) == {(1, 2)}
    assert pruned[(1, 2)] == 2 * 1 + 1 * 3


def test_hard_negatives_band_and_exclusions(spark):
    """Mined negatives sit strictly inside [lo, hi), never include the
    anchor or a known positive, and rank by descending cosine."""
    from embeddinghub_spark.functions.vector import hard_negatives

    dim = 4
    # corpus: anchor-aligned (cos 1.0), semi-hard (~0.7), orthogonal (0)
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),   # anchor itself
        (2, [1.0, 0.0, 0.0, 0.0]),   # exact copy: cos 1.0 -> above band
        (3, [0.7, 0.714143, 0.0, 0.0]),  # ~0.7 -> in band
        (4, [0.5, 0.866025, 0.0, 0.0]),  # ~0.5 -> in band
        (5, [0.0, 1.0, 0.0, 0.0]),   # 0.0 -> below band
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    anchors = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], ["query_id", "query_vec"]
    )
    positives = spark.createDataFrame([(1, 4)], ["query_id", "vec_id"])
    out = hard_negatives(
        emb, anchors, 5, dim=dim, lo=0.3, hi=0.9, positives=positives
    ).collect()
    assert [(r["neg_id"], r["rank"]) for r in out] == [(3, 1)]
    assert 0.3 <= out[0]["cosine"] < 0.9


def test_pca_fit_matches_numpy_replica(spark, sf_dir):
    import numpy as np

    from embeddinghub_spark.functions.embeddings import pca_fit, pca_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    X = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])

    mean, comps, evs = pca_fit(emb, "embedding", k=5)
    # replica
    m = X.mean(axis=0)
    cov = (X.T @ X) / len(X) - np.outer(m, m)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:5]
    assert np.allclose(mean, m, atol=1e-9)
    for i, idx in enumerate(order):
        v = vecs[:, idx]
        j = int(np.argmax(np.abs(v)))
        if v[j] < 0:
            v = -v
        assert np.allclose(comps[i], v, atol=1e-7), f"component {i}"
        assert abs(evs[i] - max(vals[idx], 0.0)) < 1e-9
    # orthonormal, variance-descending
    C = np.array(comps)
    assert np.allclose(C @ C.T, np.eye(5), atol=1e-9)
    assert all(evs[i] >= evs[i + 1] - 1e-12 for i in range(4))

    # projection matches (X - mean) @ C.T
    proj = {
        r.vec_id: np.array(r.pca)
        for r in pca_project(emb, mean, comps).collect()
    }
    want = (X - m) @ C.T
    for i, r in enumerate(rows):
        assert np.allclose(proj[r.vec_id], want[i], atol=1e-5)


def test_pca_finds_planted_direction(spark):
    import numpy as np
    from pyspark.sql import Row

    from embeddinghub_spark.functions.embeddings import pca_fit

    rng = np.random.default_rng(7)
    direction = np.array([3.0, 4.0, 0.0, 0.0]) / 5.0
    X = (
        np.outer(rng.normal(size=400) * 10.0, direction)
        + rng.normal(size=(400, 4)) * 0.1
    )
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in X[i]]) for i in range(400)]
    )
    _, comps, evs = pca_fit(df, "embedding", k=2)
    cos = abs(float(np.dot(comps[0], direction)))
    assert cos > 0.999
    assert evs[0] > 50 * evs[1]  # planted axis dominates


def test_pca_validation(spark):
    import pytest
    from pyspark.sql import Row

    from embeddinghub_spark.functions.embeddings import pca_fit

    df = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 2.0])])
    with pytest.raises(ValueError):
        pca_fit(df, "embedding", k=0)
    with pytest.raises(ValueError):
        pca_fit(df, "embedding", k=3)


def test_ivf_disk_index_equals_knn_ivf_and_prunes_partitions(
    spark, sf_dir, tmp_path
):
    from pyspark.sql import functions as F

    from embeddinghub_spark.functions.ann_index import (
        ivf_index_build,
        ivf_index_probe,
    )
    from embeddinghub_spark.functions.vector import knn_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.first().embedding)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    idx = str(tmp_path / "ivf")
    ivf_index_build(emb, idx, n_cells=16, dim=dim)

    got = ivf_index_probe(spark, idx, queries, 5, nprobe=4, dim=dim)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters: [cell" in plan and "INSET" in plan

    g = {(r.query_id, r.rank): r.neighbor_id for r in got.collect()}
    w = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_ivf(emb, queries, 5, n_cells=16, nprobe=4, dim=dim).collect()
    }
    assert g == w


def test_ivf_disk_index_append_only_touches_probed_cells(spark, tmp_path):
    import os

    import numpy as np
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from embeddinghub_spark.functions.ann_index import (
        ivf_index_append,
        ivf_index_build,
        ivf_index_probe,
    )

    rng = np.random.default_rng(3)
    base = [
        Row(vec_id=i, embedding=[float(x) for x in rng.normal(size=8)])
        for i in range(100)
    ]
    emb = spark.createDataFrame(base)
    idx = str(tmp_path / "ivf2")
    ivf_index_build(emb, idx, n_cells=8, dim=8)

    cells_dir = os.path.join(idx, "cells")
    before = {
        d: len(os.listdir(os.path.join(cells_dir, d)))
        for d in os.listdir(cells_dir)
        if d.startswith("cell=")
    }
    extra = spark.createDataFrame(
        [Row(vec_id=1000 + i, embedding=base[i].embedding) for i in range(3)]
    )
    ivf_index_append(extra, idx, dim=8)
    after = {
        d: len(os.listdir(os.path.join(cells_dir, d)))
        for d in os.listdir(cells_dir)
        if d.startswith("cell=")
    }
    changed = [d for d in after if after[d] != before.get(d, 0)]
    assert 1 <= len(changed) <= 3  # only the touched cells gained files

    # appended duplicates of ids 0..2 must now appear in their probes
    q = spark.createDataFrame(
        [Row(query_id=0, query_vec=base[0].embedding)]
    )
    got = ivf_index_probe(spark, idx, q, 3, nprobe=2, dim=8).collect()
    ids = {r.neighbor_id for r in got}
    assert 0 in ids and 1000 in ids  # original and its appended twin


def test_sparse_cosine_warns_on_stop_feature_bucket(spark):
    """VERDICT r8 #2 pin: with max_df unset, a bucket whose df crosses
    df_warning_threshold fires a loud RuntimeWarning (Σ_b df² is the
    op's cost — an unpruned stop-feature bucket is the measured ×21
    landmine); setting max_df, or disabling the probe, stays silent."""
    import warnings

    import pytest

    from embeddinghub_spark.functions.vector import sparse_cosine_pairs

    rows = [(i, 7, 1) for i in range(6)]  # bucket 7 shared by 6 ids
    rows += [(0, 1, 2), (1, 2, 2)]
    df = spark.createDataFrame(rows, "doc_id int, bucket int, weight int")

    with pytest.warns(RuntimeWarning, match="max_df"):
        sparse_cosine_pairs(df, min_cosine=0.0, df_warning_threshold=3)

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # pruned: the guard aggregate is replaced by the max_df filter
        sparse_cosine_pairs(df, min_cosine=0.0, max_df=3)
        # probe explicitly disabled (the frozen exemplar entry's path)
        sparse_cosine_pairs(df, min_cosine=0.0, df_warning_threshold=None)
        # under-threshold corpus: probe runs, no warning
        sparse_cosine_pairs(df, min_cosine=0.0, df_warning_threshold=10)


def test_sparse_features_shared_cache_is_keyed_and_reused(spark):
    """VERDICT r12 #3: the sparse-cosine pair shares ONE eager
    localCheckpoint of the auto-dim feature build. Same (app, sf_dir)
    → the identical cached frame (no rebuild); a different sf_dir
    evicts and rebuilds (at most one corpus held)."""
    import __spark_entry__ as m

    m._SPARSE_FEATS_CACHE.clear()
    a = m._sparse_features_shared(spark, "/root/testdata/sf0.001")
    b = m._sparse_features_shared(spark, "/root/testdata/sf0.001")
    assert a is b
    assert len(m._SPARSE_FEATS_CACHE) == 1
    c = m._sparse_features_shared(spark, "/root/testdata/sf0.01")
    assert c is not a
    assert len(m._SPARSE_FEATS_CACHE) == 1  # old corpus evicted
    m._SPARSE_FEATS_CACHE.clear()


def _assign_cells_forced(df, cents, dim, force, monkeypatch):
    """assign_ivf_cells with exactly one strategy forced, as
    {vec_id: cell}, plus the executed plan text."""
    from embeddinghub_spark.functions import vector as V

    cent_df = df.sparkSession.createDataFrame(
        cents, "cell int, centroid array<double>"
    )
    with monkeypatch.context() as m:
        if force == "inline":  # lift the literal cap to K·dim
            m.setattr(V, "_MAX_INLINE_CELL_TERMS", len(cents) * dim)
            m.setattr(V, "_arrow_ok", lambda *a: False)
        elif force == "broadcast":
            m.setattr(V, "_inline_ok", lambda *a: False)
            m.setattr(V, "_arrow_ok", lambda *a: False)
        out = V.assign_ivf_cells(df, cent_df, dim=dim, cells=cents)
        plan = out._jdf.queryExecution().executedPlan().toString()
        return {r[0]: r[1] for r in out.select("vec_id", "cell").collect()}, plan


def _float_frame(spark, mat):
    return spark.createDataFrame(
        [(i, None if v is None else [float(x) for x in v]) for i, v in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )


def test_assign_ivf_cells_arrow_inline_broadcast_identical_past_cap(
    spark, monkeypatch
):
    """The three assignment strategies give identical cells row by row
    at K·dim just over the inline cap (129·64 = 8256 > 8192), where the
    Arrow path is the default. Cell 129 duplicates cell 5, so every
    vector nearest to them must take the smaller id."""
    import numpy as np

    from embeddinghub_spark.functions.vector import _MAX_INLINE_CELL_TERMS

    rng = np.random.default_rng(17)
    dim, n_cells = 64, 129
    assert n_cells * dim > _MAX_INLINE_CELL_TERMS >= (n_cells - 1) * dim
    mat = rng.normal(size=(2000, dim)).astype(np.float32)
    cents = [(c + 1, [float(x) for x in mat[c]]) for c in range(n_cells - 1)]
    cents.append((n_cells, cents[4][1]))
    df = _float_frame(spark, mat)

    arrow, plan = _assign_cells_forced(df, cents, dim, None, monkeypatch)
    assert "ArrowEvalPython" in plan  # the default strategy past the cap
    inline, _ = _assign_cells_forced(df, cents, dim, "inline", monkeypatch)
    broadcast, _ = _assign_cells_forced(df, cents, dim, "broadcast", monkeypatch)
    assert len(arrow) == 2000
    assert arrow == inline == broadcast
    assert arrow[4] == 5 and n_cells not in arrow.values()


def test_arrow_ok_falls_back_without_pyarrow_or_pandas(spark, monkeypatch):
    """Where find_spec finds no pyarrow or no pandas, the large-K
    assignment takes the broadcast path instead of a pandas UDF."""
    import importlib.util

    import numpy as np

    from embeddinghub_spark.functions import vector as V

    rng = np.random.default_rng(5)
    dim, n_cells = 64, 129
    mat = rng.normal(size=(50, dim))
    cents = [(c + 1, [float(x) for x in rng.normal(size=dim)]) for c in range(n_cells)]
    df = _float_frame(spark, mat)
    cent_df = spark.createDataFrame(cents, "cell int, centroid array<double>")
    assert V._arrow_ok(cents, "embedding", dim)
    real = importlib.util.find_spec
    for missing in ("pyarrow", "pandas"):
        with monkeypatch.context() as m:
            m.setattr(
                importlib.util,
                "find_spec",
                lambda name, *a, _gone=missing: None if name == _gone else real(name, *a),
            )
            assert not V._arrow_ok(cents, "embedding", dim)
            out = V.assign_ivf_cells(df, cent_df, dim=dim, cells=cents)
            plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "Broadcast" in plan


def test_assign_ivf_cells_arrow_rejects_null_and_ragged(spark):
    """The Arrow path names a null or ragged vector instead of failing
    in np.stack."""
    import numpy as np

    from embeddinghub_spark.functions.vector import assign_ivf_cells

    rng = np.random.default_rng(9)
    dim, n_cells = 64, 129
    cents = [(c + 1, [float(x) for x in rng.normal(size=dim)]) for c in range(n_cells)]
    cent_df = spark.createDataFrame(cents, "cell int, centroid array<double>")
    rows = list(rng.normal(size=(20, dim)))
    for bad, msg in ((None, "null vector"), (rows[0][:-1], "length 63, expected dim 64")):
        df = _float_frame(spark, rows[:5] + [bad] + rows[5:])
        with pytest.raises(Exception, match=f"ValueError: assign_ivf_cells: .*{msg}"):
            assign_ivf_cells(df, cent_df, dim=dim, cells=cents).collect()


def test_assign_ivf_cells_arrow_udf_runs_without_the_package(spark, tmp_path):
    """The Arrow assignment UDF must not need ``embeddinghub_spark`` on
    the Python workers: its pickled form, loaded by an isolated
    interpreter that cannot import the package, still assigns cells
    and still names a ragged vector."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    from embeddinghub_spark.functions.vector import _assign_cells_arrow_expr

    udf = _assign_cells_arrow_expr([(2, [0.0, 1.0]), (1, [1.0, 0.0])], 2)
    (tmp_path / "udf.pkl").write_bytes(cloudpickle.dumps(udf.func))
    script = (
        "import pickle, pandas as pd\n"
        "f = pickle.load(open('udf.pkl', 'rb'))\n"
        "print(f(pd.Series([[0.1, 0.9], [2.0, 0.5]])).tolist())\n"
        "try:\n"
        "    f(pd.Series([[1.0, 0.0], [1.0]]))\n"
        "except ValueError as e:\n"
        "    print(e)\n"
    )
    out = subprocess.run(
        [sys.executable, "-I", "-c", script],  # -I: no cwd, no PYTHONPATH
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.splitlines() == [
        "[2, 1]",
        "assign_ivf_cells: length 1, expected dim 2 (batch position 1)",
    ]
