from datetime import datetime

import pytest

from embeddinghub_spark.catalog import Catalog
from embeddinghub_spark.serving.dataset import Dataset, preview
from embeddinghub_spark.serving.online import OnlineStore
from embeddinghub_spark.serving.spaces import EmbeddingHub, FrozenSpaceError


def _ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture()
def served_catalog(spark):
    cat = Catalog(spark)
    df = spark.createDataFrame(
        [
            ("a", 1.0, _ts("2024-01-01T00:00:00")),
            ("a", 2.0, _ts("2024-01-02T00:00:00")),
            ("b", 9.0, _ts("2024-01-01T00:00:00")),
        ],
        ["entity", "value", "ts"],
    )
    df.createOrReplaceTempView("_serve_src")
    cat.df_transformation("src", "v1", lambda: spark.table("_serve_src"), [])
    cat.register_feature("f1", "v1", ("src", "v1"), "entity", "value", "ts")
    return cat


def test_online_get(served_catalog):
    store = OnlineStore(served_catalog)
    t = store.materialize_feature("f1", "v1")
    assert t.get("a") == 2.0  # latest value
    assert t.get("b") == 9.0
    with pytest.raises(KeyError):
        t.get("zz")
    assert t.multi_get(["a", "zz"]) == [2.0, None]


def test_features_serve_precomputed_and_on_demand(served_catalog):
    store = OnlineStore(served_catalog)
    store.materialize_feature("f1", "v1")

    def double_f1(store_, params, entities):
        return params * 2

    served_catalog.register_on_demand("od", "v1", double_f1)
    vals = store.features(
        [("f1", "v1"), ("od", "v1")], {"entity": "a"}, params=21
    )
    assert vals == [2.0, 42]


def test_dataset_adapters(spark):
    df = spark.createDataFrame(
        [(i, float(i), i % 2 == 0) for i in range(10)], ["id", "feat", "label"]
    )
    ds = Dataset(df, label_col="label")
    rows = list(ds)
    assert len(rows) == 10
    assert rows[0][0][0] == rows[0][0][0]  # (features, label) tuples
    assert len(list(Dataset(df, "label").repeat(1))) == 20
    batches = list(Dataset(df, "label").batch(4))
    assert [len(b) for b in batches] == [4, 4, 2]
    shuffled = list(Dataset(df, "label").shuffle(5, seed=1))
    assert len(shuffled) == 10
    assert preview(df, 3).count() == 3


def test_embedding_spaces(spark):
    hub = EmbeddingHub(spark)
    space = hub.create_space("test", dims=3)
    space.multiset({"x": [1.0, 0.0, 0.0], "y": [0.0, 1.0, 0.0], "z": [1.0, 0.1, 0.0]})
    assert space.get("x") == [1.0, 0.0, 0.0]
    space.set("x", [0.9, 0.0, 0.0])  # upsert wins
    assert space.get("x") == pytest.approx([0.9, 0.0, 0.0])
    assert space.get("missing") is None
    got = space.multiget(["x", "y"])
    assert set(got) == {"x", "y"}
    # nearest by key excludes self; z is closer to x than y is
    assert space.nearest_neighbor(1, key="x") == ["z"]
    assert space.nearest_neighbor(1, vector=[0.0, 0.9, 0.0]) == ["y"]
    with pytest.raises(ValueError):
        space.multiset({"bad": [1.0]})
    hub.freeze_space("test")
    with pytest.raises(FrozenSpaceError):
        space.set("x", [1.0, 1.0, 1.0])
    assert space.download().count() == 3


def test_on_demand_batch_equivalent(served_catalog, spark):
    # C19 applied in batch: the registry fn can also be used via UDF
    store = OnlineStore(served_catalog)
    store.materialize_feature("f1", "v1")
    vals = store.features([("f1", "v1")], {"entity": "b"})
    assert vals == [9.0]


def test_on_demand_batch_column(spark, served_catalog):
    # C19 bulk form: batch_fn applied JVM-side as a column expression
    from pyspark.sql import functions as F

    served_catalog.register_on_demand(
        "doubled", "v1",
        fn=lambda store, params, entities: params * 2,
        batch_fn=lambda df: (F.col("x") * 2).cast("double"),
    )
    df = spark.createDataFrame([(1, 1.5), (2, 2.5)], ["id", "x"])
    out = served_catalog.apply_on_demand_batch("doubled", "v1", df)
    got = {r["id"]: r["ondemand__doubled__v1"] for r in out.collect()}
    assert got == {1: 3.0, 2: 5.0}
    # per-request-only feature refuses batch application
    served_catalog.register_on_demand("req_only", "v1", fn=lambda s, p, e: 1)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        served_catalog.apply_on_demand_batch("req_only", "v1", df)


def test_spaces_1k_upserts_stay_cheap(spark):
    """Upserts are dict-overlay writes: no Spark job, no plan growth.
    1000 single-key upserts must complete in interactive time (the old
    unionByName-per-write design went quadratic here)."""
    import time

    from embeddinghub_spark.serving.spaces import EmbeddingHub

    hub = EmbeddingHub(spark)
    space = hub.create_space("bulk", dims=4)
    t0 = time.time()
    for i in range(1000):
        space.set(f"k{i % 100}", [float(i), 0.0, 0.0, 1.0])
    elapsed = time.time() - t0
    assert elapsed < 2.0  # pure-python dict updates
    assert space.get("k1") == [901.0, 0.0, 0.0, 1.0]  # last write wins
    assert space.download().count() == 100


def test_spaces_distributed_base_with_overlay(spark):
    from embeddinghub_spark.serving.spaces import EmbeddingHub

    hub = EmbeddingHub(spark)
    space = hub.create_space("based", dims=2)
    base = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], ["key", "embedding"]
    )
    space.load_dataframe(base)
    assert space.get("a") == [1.0, 0.0]  # served from base
    space.set("a", [0.5, 0.5])  # overlay shadows base
    assert space.get("a") == [0.5, 0.5]
    assert space.get("b") == [0.0, 1.0]
    got = space.multiget(["a", "b", "zz"])
    assert got["a"] == [0.5, 0.5] and got["b"] == [0.0, 1.0] and "zz" not in got
    assert space.download().count() == 2
    # nearest over base ∪ overlay
    assert space.nearest_neighbor(1, vector=[0.0, 0.9]) == ["b"]


def test_space_base_table_serving_index(spark):
    """A base table attached via load_dataframe serves point lookups
    through the bucketed pyarrow index: 1,000 get()s run ZERO Spark
    jobs (the only job is the index build inside load_dataframe)."""
    hub = EmbeddingHub(spark)
    space = hub.create_space("served", dims=4)
    base = spark.createDataFrame(
        [(f"k{i}", [float(i), 0.0, 0.0, 1.0]) for i in range(1000)],
        ["key", "embedding"],
    )
    space.load_dataframe(base)
    space.set("k5", [9.0, 9.0, 9.0, 9.0])  # overlay shadows base

    def jobs() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    before = jobs()
    for i in range(1000):
        emb = space.get(f"k{i}")
        expected = [9.0, 9.0, 9.0, 9.0] if i == 5 else [float(i), 0.0, 0.0, 1.0]
        assert emb == pytest.approx(expected)
    assert space.get("absent") is None
    got = space.multiget(["k1", "k7", "absent"])
    assert set(got) == {"k1", "k7"}
    assert jobs() == before, "point lookups must not launch Spark jobs"

    # batch plane still consistent: download = base with overlay winning
    rows = {r["key"]: r["embedding"] for r in space.download().collect()}
    assert len(rows) == 1000
    assert rows["k5"] == pytest.approx([9.0, 9.0, 9.0, 9.0])


def test_dataset_feature_cols_exact_entity_exclusion(spark):
    """Only the exact entity key columns are excluded from served
    feature vectors; a feature alias that happens to START with
    'entity' is a feature (ADVICE r2)."""
    from embeddinghub_spark.serving.dataset import Dataset

    df = spark.createDataFrame(
        [(1, "c1", 0.5, 7.0, 1.0)],
        ["entity", "entity__customer", "entity_score_lag", "f1", "label"],
    )
    ds = Dataset(df)
    feats, label = next(iter(ds))
    assert feats == [0.5, 7.0]  # entity_score_lag served, keys excluded
    assert label == 1.0


def test_arrow_export_roundtrip(spark, sf_dir):
    from embeddinghub_spark.serving.dataset import to_arrow, to_arrow_batches

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    tbl = to_arrow(nation)
    assert tbl.num_rows == nation.count()
    assert set(tbl.column_names) == set(nation.columns)
    capped = to_arrow(nation, limit=3)
    assert capped.num_rows == 3
    batches = list(to_arrow_batches(nation, limit=10, batch_rows=4))
    assert sum(b.num_rows for b in batches) == 10
    assert all(b.num_rows <= 4 for b in batches)


def test_model_user_provider_registry_roundtrip(spark, tmp_path):
    """The metadata-only resource types (MODEL/USER/PROVIDER of the
    reference's §1.1 taxonomy): registration validates references,
    duplicates conflict, and the JSON manifest round-trips them."""
    import pytest

    from embeddinghub_spark.catalog import (
        Catalog,
        ResourceExists,
        ResourceNotFound,
        load_manifest,
        save_manifest,
    )

    cat = Catalog(spark)
    cat.register_file("src", "v1", "/root/testdata/sf0.001/events.parquet")
    cat.register_feature("f", "v1", ("src", "v1"), "user_id", "value", "ts")
    cat.register_user("alice")
    cat.register_provider("local_spark", "SPARK_OFFLINE", "in-process")
    cat.register_model("clickmodel", "ctr model", features=[("f", "v1")])

    with pytest.raises(ResourceNotFound):
        cat.register_model("bad", features=[("nope", "v1")])
    with pytest.raises(ResourceExists):
        cat.register_model("clickmodel", "different description")
    assert [m.name for m in cat.models_using(("f", "v1"))] == ["clickmodel"]

    path = save_manifest(cat, str(tmp_path / "m.json"))
    cat2 = load_manifest(spark, path)
    assert cat2.model("clickmodel").features == (("f", "v1"),)
    assert "alice" in cat2._users
    assert cat2._providers["local_spark"].provider_type == "SPARK_OFFLINE"


def test_features_model_attribution(served_catalog):
    import pytest

    from embeddinghub_spark.catalog import ResourceNotFound

    cat = served_catalog
    store = OnlineStore(cat)
    store.materialize_feature("f1", "v1")
    fkey = ("f1", "v1")
    cat.register_model("attrib_model", features=[fkey])
    store.features([fkey], {"entity": "a"}, model="attrib_model")
    store.features([fkey], {"entity": "b"}, model="attrib_model")
    assert store.model_usage[("attrib_model", fkey)] == 2
    with pytest.raises(ResourceNotFound):
        store.features([fkey], {"entity": "a"}, model="ghost")


def test_online_get_freshness_guard(spark):
    """A freshness-budgeted GET serves within budget, raises
    StaleValue past it, and refuses to certify freshness for values
    with no timestamp — plain GETs are unchanged."""
    import datetime as dt

    import pytest

    from embeddinghub_spark.serving.online import OnlineTable, StaleValue

    t = OnlineTable("f", "v1")
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    t.set("a", 1.0, ts=ts)
    t.set("b", 2.0)  # no timestamp

    now = ts + dt.timedelta(seconds=30)
    assert t.get("a") == 1.0
    assert t.get("a", max_staleness_seconds=60, now=now) == 1.0
    with pytest.raises(StaleValue, match="30s old"):
        t.get("a", max_staleness_seconds=10, now=now)
    with pytest.raises(StaleValue, match="no.*timestamp"):
        t.get("b", max_staleness_seconds=60, now=now)
    assert t.get("b") == 2.0
    with pytest.raises(KeyError):
        t.get("missing")

    # ADVICE r6 pin: a ts-less OVERWRITE clears the previous value's
    # timestamp — otherwise a freshness-guarded get would certify the
    # new value with the old value's age
    t.set("a", 9.0)  # overwrite without a timestamp
    assert t.get("a") == 9.0
    with pytest.raises(StaleValue, match="no.*timestamp"):
        t.get("a", max_staleness_seconds=3600, now=now)


def test_nearest_via_disk_index_matches_bruteforce(spark, tmp_path):
    """An index-registered nearest answers through partition-pruned
    probes and (with full probe coverage) matches the brute-force
    neighbor list exactly."""
    import random

    from embeddinghub_spark.catalog import Catalog
    from embeddinghub_spark.functions.ann_index import ivf_index_build
    from embeddinghub_spark.serving.online import OnlineStore

    rng = random.Random(5)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    idx = str(tmp_path / "ivf")
    ivf_index_build(df, idx, n_cells=4, dim=8)

    store = OnlineStore(Catalog(spark))
    store.register_vector_table("emb", "v1", df)
    q = vecs[17][1]
    brute = store.nearest("emb", "v1", q, 5)

    store.register_vector_index("emb", "v1", idx, nprobe=4)  # all cells
    indexed = store.nearest("emb", "v1", q, 5)
    assert indexed == brute
    assert indexed[0] == 17  # self is its own nearest neighbor


def test_features_serve_with_freshness_budget(spark, tmp_path):
    """The V3 serve path honors max_staleness_seconds end-to-end:
    within budget serves, past budget raises StaleValue, missing
    entities still serve None (the C6 NULL convention)."""
    import datetime as dt

    import pytest

    from embeddinghub_spark.catalog import Catalog
    from embeddinghub_spark.serving.online import OnlineStore, StaleValue

    cat = Catalog(spark)
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    p = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(42, 7.0, ts)], ["user_id", "value", "ts"]
    ).write.parquet(p)
    cat.register_file("src", "v1", p, timestamp_column="ts")
    cat.register_feature("f", "v1", ("src", "v1"), "user_id", "value", "ts")

    store = OnlineStore(cat)
    store.materialize_feature("f", "v1")
    now = ts + dt.timedelta(seconds=120)
    ok = store.features(
        [("f", "v1")], {"entity": 42},
        max_staleness_seconds=300, now=now,
    )
    assert ok == [7.0]
    with pytest.raises(StaleValue):
        store.features(
            [("f", "v1")], {"entity": 42},
            max_staleness_seconds=60, now=now,
        )
    # missing entity: None, not a freshness error
    assert store.features(
        [("f", "v1")], {"entity": 999},
        max_staleness_seconds=60, now=now,
    ) == [None]


def _spark_probe_lists(spark, idx, queries, k, nprobe):
    """query position -> ivf_index_probe(...).orderBy("rank") neighbors."""
    from embeddinghub_spark.functions.ann_index import ivf_index_probe

    qdf = spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
        ["query_id", "query_vec"],
    )
    out = {i: [] for i in range(len(queries))}
    hits = ivf_index_probe(spark, idx, qdf, k, nprobe=nprobe)
    for r in hits.orderBy("query_id", "rank").collect():
        out[r["query_id"]].append(r["neighbor_id"])
    return out


def test_index_served_nearest_equals_spark_probe_without_jobs(spark, tmp_path):
    """Index-served nearest answers on the driver and returns exactly
    the Spark probe's neighbor list: 220 seeded queries at nprobe below
    and equal to n_cells, exact-duplicate vectors (ties break on
    neighbor_id), after an append, for a zero-norm query under both
    ANSI settings, and after an unprobed cell directory is deleted —
    while firing no Spark job."""
    import os
    import shutil

    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.errors import ArithmeticException

    from embeddinghub_spark.functions.ann_index import (
        ivf_index_append,
        ivf_index_build,
    )

    rng = np.random.default_rng(11)
    dim, n_cells, k = 16, 8, 10
    base = rng.normal(size=(300, dim)).astype(np.float32)
    base[250:] = base[:50]  # ids 250..299 duplicate ids 0..49
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / "ivf")
    ivf_index_build(df, idx, n_cells=n_cells, dim=dim)
    # 200 random queries + 20 equal to indexed vectors that have a twin
    queries = np.vstack([rng.normal(size=(200, dim)), base[:20]])

    store = OnlineStore(Catalog(spark))
    tracker = spark.sparkContext.statusTracker()

    def last_job():  # the tracker keeps only the newest jobs' ids
        return max(tracker.getJobIdsForGroup(), default=-1)

    def served(nprobe, qs=queries):
        store.register_vector_index("emb", "v1", idx, nprobe=nprobe)
        before = last_job()
        got = {
            i: store.nearest("emb", "v1", [float(x) for x in q], k)
            for i, q in enumerate(qs)
        }
        assert last_job() == before  # zero Spark jobs
        return got

    for nprobe in (3, n_cells):
        before = last_job()
        want = _spark_probe_lists(spark, idx, queries, k, nprobe)
        assert last_job() > before  # the tracker sees the Spark probe's jobs
        got = served(nprobe)
        assert got == want
        assert all(got[200 + i][:2] == [i, 250 + i] for i in range(20))  # ties

    extra = np.vstack([base[60:70], rng.normal(size=(30, dim))]).astype(np.float32)
    ivf_index_append(
        spark.createDataFrame(
            [(1000 + i, [float(x) for x in v]) for i, v in enumerate(extra)],
            "vec_id long, embedding array<float>",
        ),
        idx,
        dim=dim,
    )
    appended = served(3)
    assert appended == _spark_probe_lists(spark, idx, queries, k, 3)
    assert any(n >= 1000 for ns in appended.values() for n in ns)

    zero = [0.0] * dim
    store.register_vector_index("emb", "v1", idx, nprobe=3)
    with pytest.raises(ArithmeticException):
        store.nearest("emb", "v1", zero, k)
    with pytest.raises(ArithmeticException):
        _spark_probe_lists(spark, idx, [zero], k, 3)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:  # null scores rank last: the k smallest ids of the probed cells
        assert served(3, [zero]) == _spark_probe_lists(spark, idx, [zero], k, 3)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)

    q = [float(x) for x in queries[0]]
    before = store.nearest("emb", "v1", q, k)
    cents = pq.read_table(os.path.join(idx, "centroids")).to_pydict()
    scores = np.array(cents["centroid"]) @ np.array(q)
    farthest = cents["cell"][int(np.argmin(scores))]  # never among 3 probed
    shutil.rmtree(os.path.join(idx, "cells", f"cell={farthest}"))
    assert store.nearest("emb", "v1", q, k) == before


def test_index_served_nearest_rejects_null_and_ragged_queries(spark, tmp_path):
    import numpy as np

    from embeddinghub_spark.functions.ann_index import ivf_index_build

    rng = np.random.default_rng(2)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)]) for i in range(40)],
        ["vec_id", "embedding"],
    )
    idx = str(tmp_path / "ivf")
    ivf_index_build(df, idx, n_cells=4, dim=4)
    store = OnlineStore(Catalog(spark))
    store.register_vector_index("emb", "v1", idx, nprobe=2)
    with pytest.raises(ValueError, match="length 3, expected dim 4"):
        store.nearest("emb", "v1", [1.0, 2.0, 3.0], 5)
    with pytest.raises(ValueError, match="null"):
        store.nearest("emb", "v1", None, 5)
    with pytest.raises(ValueError, match="null"):
        store.nearest("emb", "v1", [1.0, None, 0.0, 1.0], 5)


def test_register_vector_index_rejects_unreadable_dir(spark, tmp_path):
    """A missing or half-written index fails at registration, naming
    the table path, instead of on the first query."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = OnlineStore(Catalog(spark))
    with pytest.raises(ValueError, match="nowhere.*centroids"):
        store.register_vector_index("emb", "v1", str(tmp_path / "nowhere"))

    half = tmp_path / "half"
    (half / "centroids").mkdir(parents=True)
    pq.write_table(
        pa.table({"cell": [1], "centroid": [[1.0, 0.0]]}),
        str(half / "centroids" / "part-0.parquet"),
    )
    with pytest.raises(ValueError, match="half.*cells"):
        store.register_vector_index("emb", "v1", str(half))
    (half / "cells" / "cell=1").mkdir(parents=True)
    (half / "cells" / "cell=1" / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(ValueError, match="half.*cells.*not readable"):
        store.register_vector_index("emb", "v1", str(half))
    assert not store._vector_indexes


def test_index_served_nearest_reads_a_file_uri_index(spark, tmp_path):
    """A file:// index dir is listed and read through one pyarrow
    filesystem, like a plain path: the driver probe returns the Spark
    probe's neighbors, not an empty list, and registration checks the
    URI's tables."""
    import numpy as np

    from embeddinghub_spark.functions.ann_index import ivf_index_build

    rng = np.random.default_rng(3)
    dim, k, nprobe = 8, 5, 2
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng.normal(size=(120, dim)))],
        "vec_id long, embedding array<double>",
    )
    idx = (tmp_path / "ivf").as_uri()
    assert idx.startswith("file:///")
    ivf_index_build(df, idx, n_cells=4, dim=dim)
    store = OnlineStore(Catalog(spark))
    store.register_vector_index("emb", "v1", idx, nprobe=nprobe)
    queries = rng.normal(size=(20, dim))
    got = {
        i: store.nearest("emb", "v1", [float(x) for x in q], k)
        for i, q in enumerate(queries)
    }
    assert got == _spark_probe_lists(spark, idx, queries, k, nprobe)
    assert all(len(ns) == k for ns in got.values())
    with pytest.raises(ValueError, match="nowhere.*centroids"):
        store.register_vector_index("emb", "v1", (tmp_path / "nowhere").as_uri())
