"""functions/hnsw.py — deterministic pure-Python HNSW (the reference's
embeddingstore serves NearestNeighbor from an hnswlib index,
embeddinghub/embeddingstore/index.cc:10-54; this is its in-process
sibling for the online path, recall-pinned against exact brute
force)."""

from __future__ import annotations

import hashlib
import math
import random

import pytest

from embeddinghub_spark.functions import hnsw
from embeddinghub_spark.functions.hnsw import HnswIndex


def _vec(i: int, dim: int = 16) -> list[float]:
    """Deterministic pseudo-random vector from md5 — no RNG state."""
    h = hashlib.md5(f"v{i}".encode()).hexdigest()
    out = []
    for d in range(dim):
        hh = hashlib.md5(f"{h}|{d}".encode()).hexdigest()
        out.append((int(hh[:8], 16) / 0xFFFFFFFF) * 2 - 1)
    return out


def _brute(vectors: dict, q: list[float], k: int) -> list[str]:
    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    return [
        kk for kk, _ in sorted(
            ((kk, l2(v, q)) for kk, v in vectors.items()),
            key=lambda t: (t[1], t[0]),
        )[:k]
    ]


def test_recall_against_brute_force():
    vecs = {f"k{i}": _vec(i) for i in range(500)}
    idx = HnswIndex(16, m=16, ef_construction=120)
    for kk in sorted(vecs):
        idx.add(kk, vecs[kk])
    hits = total = 0
    for qi in range(40):
        q = _vec(10_000 + qi)
        exact = set(_brute(vecs, q, 10))
        approx = {kk for kk, _ in idx.search(q, 10, ef=80)}
        hits += len(exact & approx)
        total += 10
    recall = hits / total
    assert recall >= 0.9, f"recall {recall}"


def test_deterministic_rebuild_and_exact_top1():
    vecs = {f"k{i}": _vec(i, 8) for i in range(200)}
    a = HnswIndex(8, m=8, ef_construction=60)
    b = HnswIndex(8, m=8, ef_construction=60)
    for kk in sorted(vecs):
        a.add(kk, vecs[kk])
        b.add(kk, vecs[kk])
    for qi in range(10):
        q = _vec(999 + qi, 8)
        assert a.search(q, 5) == b.search(q, 5)
    # querying an indexed vector itself returns it first at distance 0
    got = a.search(vecs["k7"], 1)
    assert got[0][0] == "k7" and got[0][1] == pytest.approx(0.0)


def test_incremental_add_overwrite_and_exclude():
    idx = HnswIndex(4, m=4, ef_construction=30)
    idx.add("a", [0, 0, 0, 0])
    idx.add("b", [1, 0, 0, 0])
    idx.add("c", [2, 0, 0, 0])
    assert [k for k, _ in idx.search([0.1, 0, 0, 0], 2)] == ["a", "b"]
    # overwrite moves a key: 'a' relocates far away
    idx.add("a", [9, 9, 9, 9])
    assert [k for k, _ in idx.search([0.1, 0, 0, 0], 2)] == ["b", "c"]
    assert [k for k, _ in idx.search([9, 9, 9, 9], 1)] == ["a"]
    # exclusion (the key-query-excludes-itself contract)
    got = idx.search([1, 0, 0, 0], 2, exclude={"b"})
    assert "b" not in [k for k, _ in got]
    with pytest.raises(ValueError, match="dim"):
        idx.add("bad", [1, 2])
    with pytest.raises(ValueError, match="dim"):
        idx.search([1, 2], 1)
    assert HnswIndex(4).search([0, 0, 0, 0], 3) == []


def test_space_ann_serving_path(spark):
    """Space.build_ann_index + nearest_neighbor(approximate=True):
    answers match exact brute force on a small space, writes after the
    build keep the index current, and the no-index call raises."""
    from embeddinghub_spark.serving.spaces import EmbeddingHub

    hub = EmbeddingHub(spark)
    sp = hub.create_space("ann_demo", dims=8)
    vecs = {f"k{i}": _vec(i, 8) for i in range(120)}
    sp.multiset(vecs)
    with pytest.raises(RuntimeError, match="no ANN index"):
        sp.nearest_neighbor(3, vector=_vec(1, 8), approximate=True)
    n = sp.build_ann_index(m=8, ef_construction=80)
    assert n == 120
    q = _vec(5000, 8)
    exact = sp.nearest_neighbor(5, vector=q)
    approx = sp.nearest_neighbor(5, vector=q, approximate=True, ef=80)
    assert len(set(exact) & set(approx)) >= 4
    # key query excludes itself on the approximate path too
    by_key = sp.nearest_neighbor(3, key="k7", approximate=True, ef=80)
    assert "k7" not in by_key and len(by_key) == 3
    # a post-build write is immediately visible
    sp.set("fresh", list(q))
    assert sp.nearest_neighbor(
        1, vector=q, approximate=True
    ) == ["fresh"]


def test_non_str_keys_rejected_at_insert():
    """ADVICE r14: the saved format is JSON, whose object keys are
    always strings — a non-str key would save fine but reload as str,
    silently breaking the load()-is-identical contract. Rejected at
    add() time instead."""
    idx = HnswIndex(4, m=4, ef_construction=20, seed=1)
    with pytest.raises(TypeError, match="keys must be str"):
        idx.add(7, [0.0, 0.0, 0.0, 0.0])
    with pytest.raises(TypeError, match="keys must be str"):
        idx.add((1, 2), [0.0, 0.0, 0.0, 0.0])
    idx.add("7", [0.0, 0.0, 0.0, 0.0])  # str keys unaffected
    assert idx.search([0.0, 0.0, 0.0, 0.0], k=1)[0][0] == "7"


def test_save_load_identical_and_o_n(tmp_path, monkeypatch):
    """VERDICT r13 #5: save -> load restores the EXACT graph — same
    entry point, levels, links and search results — and load performs
    ZERO distance evaluations (O(N) reconstruction, not the
    O(N·ef·log N) rebuild)."""
    idx = HnswIndex(8, m=8, ef_construction=60, seed=7)
    vecs = {f"k{i}": _vec(i, 8) for i in range(150)}
    for k in sorted(vecs):
        idx.add(k, vecs[k])
    p = str(tmp_path / "space.hnsw.json")
    idx.save(p)

    # every kernel evaluation (``_dist``, the inlined neighbor loop,
    # the ``_shrink`` ranking) goes through the module name ``dist``
    calls = {"n": 0}
    orig = hnsw.dist

    def counting(a, b):
        calls["n"] += 1
        return orig(a, b)

    monkeypatch.setattr(hnsw, "dist", counting)
    loaded = HnswIndex.load(p)
    assert calls["n"] == 0, "load must not evaluate distances"
    loaded.search(_vec(3, 8), 5, ef=60)
    assert calls["n"] > 1, "the counter must see the search loop"
    monkeypatch.undo()

    assert loaded._entry == idx._entry
    assert loaded._levels == idx._levels
    assert loaded._links == idx._links
    assert loaded._vecs == idx._vecs
    for qi in (3, 77, 5000):
        q = _vec(qi, 8)
        assert loaded.search(q, 5, ef=60) == idx.search(q, 5, ef=60)
    # a loaded index keeps accepting writes
    loaded.add("new", _vec(9999, 8))
    assert "new" in loaded
    # unknown format is loud
    import json as _json
    bad = str(tmp_path / "bad.json")
    with open(bad, "w") as fh:
        _json.dump({"format": 99}, fh)
    with pytest.raises(ValueError, match="format"):
        HnswIndex.load(bad)


def test_non_finite_vectors_rejected():
    """A NaN or infinite component fails early, naming the key (or the
    query) and the component, and leaves the index unchanged — a NaN
    distance would otherwise rank arbitrarily."""
    idx = HnswIndex(2, m=4, ef_construction=20)
    for i in range(5):
        idx.add(f"k{i}", [float(i), 0.0])
    with pytest.raises(ValueError, match=r"key 'x' has non-finite "
                       r"component 1: nan"):
        idx.add("x", [0.0, math.nan])
    with pytest.raises(ValueError, match=r"key 'k1' .*component 0: inf"):
        idx.add("k1", [math.inf, 0.0])
    assert len(idx) == 5 and "x" not in idx
    assert idx._vecs["k1"] == (1.0, 0.0)
    with pytest.raises(ValueError, match=r"query has non-finite "
                       r"component 0: nan"):
        idx.search([math.nan, 0.0], 3)
    with pytest.raises(ValueError, match=r"query .*component 1: -inf"):
        HnswIndex(2).search([0.0, -math.inf], 3)
    assert [k for k, _ in idx.search([0.0, 0.0], 2)] == ["k0", "k1"]


def test_rejected_space_multiset_changes_nothing(spark):
    """A Space.multiset batch with one bad entry (non-str key,
    non-finite or wrong-dim vector) is rejected as a whole: the
    overlay, ``download()`` and the HNSW keep their state, so the
    valid rows of the batch are not half-applied either."""
    from embeddinghub_spark.serving.spaces import EmbeddingHub

    sp = EmbeddingHub(spark).create_space("rejects", dims=2)
    sp.multiset({f"k{i}": [float(i), 1.0] for i in range(6)})
    assert sp.build_ann_index(m=4, ef_construction=20) == 6
    buf = dict(sp._buf)
    ok = [9.0, 9.0]
    bad_batches = [
        ({"ok": ok, 7: [1.0, 1.0]}, TypeError, "keys must be str"),
        ({"ok": ok, "nan": [math.nan, 1.0]}, ValueError,
         r"'nan' has non-finite component 0"),
        ({"ok": ok, "short": [1.0]}, ValueError, "dim 1"),
    ]
    for batch, exc, msg in bad_batches:
        with pytest.raises(exc, match=msg):
            sp.multiset(batch)
        assert sp._buf == buf
        assert len(sp._ann) == 6 and "ok" not in sp._ann
    assert sp.download().count() == 6
    assert "ok" not in sp.nearest_neighbor(
        6, vector=ok, approximate=True)


def _old_fold_dist(a, b):
    """The kernel before ``math.dist``: a Python generator fold of
    squared differences. Returned wrapped so that the module's
    ``dist(a, b) ** 2`` evaluates to exactly this fold."""
    return _Squared(sum((x - y) * (x - y) for x, y in zip(a, b)))


class _Squared:
    __slots__ = ("sq",)

    def __init__(self, sq: float):
        self.sq = sq

    def __pow__(self, p):
        assert p == 2
        return self.sq


def _clustered(rng: random.Random, n: int, centers) -> list[list[float]]:
    return [
        [c + rng.gauss(0.0, 0.35) for c in centers[rng.randrange(len(centers))]]
        for _ in range(n)
    ]


def _serving_history(idx: HnswIndex, seed: int) -> None:
    """400 clustered 64-d keys in sorted-key order, then the serving
    workload's write shape: 32-key batches upserting a 4 x 32 pool in
    turn (the later batches re-link existing keys), each followed by an
    overwrite of the current entry-point key."""
    rng = random.Random(seed)
    centers = [[rng.uniform(-1.0, 1.0) for _ in range(64)]
               for _ in range(8)]
    for i, v in enumerate(_clustered(rng, 400, centers)):
        idx.add(f"v{i:04d}", v)
    for r in range(12):
        for j, v in enumerate(_clustered(rng, 32, centers)):
            idx.add(f"w{r % 4}_{j:02d}", v)
        idx.add(idx._entry, _clustered(rng, 1, centers)[0])


@pytest.mark.parametrize("seed", [1, 2])
def test_l2_kernel_builds_the_generator_fold_graph(monkeypatch, seed):
    """``math.dist(a, b) ** 2`` rounds differently from the generator
    fold it replaced, but on a seeded clustered set with overwrites
    (entry point included) both kernels build the same graph and
    answer with the same keys; distances agree to 1e-12 relative."""
    new = HnswIndex(64, seed=seed)
    _serving_history(new, seed)
    old = HnswIndex(64, seed=seed)
    monkeypatch.setattr(hnsw, "dist", _old_fold_dist)
    _serving_history(old, seed)
    queries = _clustered(random.Random(seed + 100), 60,
                         [list(v) for v in list(new._vecs.values())[:8]])
    old_hits = [old.search(q, 10) for q in queries]
    monkeypatch.undo()

    assert len(new) == len(old) == 400 + 4 * 32
    assert new._entry == old._entry
    assert new._levels == old._levels
    assert new._links == old._links
    n_rounded_apart = 0
    for q, want in zip(queries, old_hits):
        got = new.search(q, 10)
        assert [k for k, _ in got] == [k for k, _ in want]
        for (_, d_new), (_, d_old) in zip(got, want):
            assert math.isclose(d_new, d_old, rel_tol=1e-12)
            n_rounded_apart += d_new != d_old
    assert n_rounded_apart, "the old fold was not the kernel in effect"


def test_space_persist_dir_roundtrip(spark, tmp_path, monkeypatch):
    """build_ann_index(persist_dir=…): first build saves; a second
    build with the UNCHANGED space loads (zero distance evals, same
    answers); mutating the space invalidates the digest and triggers
    a rebuild + re-save that indexes the new vector."""
    from embeddinghub_spark.serving.spaces import EmbeddingHub

    hub = EmbeddingHub(spark)
    sp = hub.create_space("persisted", dims=8)
    vecs = {f"k{i}": _vec(i, 8) for i in range(80)}
    sp.multiset(vecs)
    d = str(tmp_path / "idx")
    assert sp.build_ann_index(m=8, ef_construction=60, persist_dir=d) == 80
    import os
    assert os.path.exists(os.path.join(d, "persisted.hnsw.json"))
    q = _vec(42, 8)
    first = sp.nearest_neighbor(5, vector=q, approximate=True, ef=60)

    calls = {"n": 0}
    orig = HnswIndex.add

    def counting_add(self, *a, **kw):
        calls["n"] += 1
        return orig(self, *a, **kw)

    monkeypatch.setattr(HnswIndex, "add", counting_add)
    assert sp.build_ann_index(m=8, ef_construction=60, persist_dir=d) == 80
    assert calls["n"] == 0, "unchanged space must LOAD, not rebuild"
    monkeypatch.undo()
    assert sp.nearest_neighbor(
        5, vector=q, approximate=True, ef=60
    ) == first

    sp.set("extra", list(q))  # space changed -> digest mismatch
    assert sp.build_ann_index(m=8, ef_construction=60, persist_dir=d) == 81
    assert sp.nearest_neighbor(
        1, vector=q, approximate=True, ef=60
    ) == ["extra"]


def test_sharded_hnsw_matches_single_index(tmp_path):
    """VERDICT r14 #7: the sharding recipe (stable-hash key split +
    per-shard top-k merge) gives `nearest` a path beyond one driver's
    RAM. In the exhaustive regime (ef ≥ shard size) each shard search
    is exact, so the merged top-k must EQUAL the single index's exact
    top-k; save → load round-trips shard by shard; overwrites route to
    the owning shard."""
    from embeddinghub_spark.functions.hnsw import ShardedHnsw

    dim, n = 8, 200
    vecs = {f"k{i}": _vec(i, dim) for i in range(n)}
    single = HnswIndex(dim, m=8, ef_construction=60, seed=7)
    sharded = ShardedHnsw(dim, n_shards=4, m=8, ef_construction=60,
                          seed=7)
    for k in sorted(vecs):
        single.add(k, vecs[k])
        sharded.add(k, vecs[k])
    assert len(sharded) == n
    assert "k5" in sharded and "nope" not in sharded
    # shards are balanced enough to be a real split
    sizes = [len(s) for s in sharded._shards]
    assert min(sizes) > 0 and max(sizes) < n

    q = _vec(12345, dim)
    exact = sorted(
        ((sum((a - b) ** 2 for a, b in zip(q, v)), k)
         for k, v in vecs.items())
    )[:10]
    got_single = single.search(q, 10, ef=n)
    got_sharded = sharded.search(q, 10, ef=n)
    assert [(k, round(d, 9)) for k, d in got_sharded] == [
        (k, round(d, 9)) for d, k in exact
    ]
    assert got_sharded == [
        (k, d) for k, d in sorted(got_single, key=lambda t: (t[1], t[0]))
    ]

    # save → load → identical results
    d = str(tmp_path / "shards")
    sharded.save(d)
    back = ShardedHnsw.load(d)
    assert back.state_key() == sharded.state_key()
    assert back.search(q, 10, ef=n) == got_sharded

    # overwrite routes to the owning shard (no duplicate key)
    sharded.add("k5", _vec(999, dim))
    assert len(sharded) == n
    # exclude set flows through the fan-out
    ex = {exact[0][1]}
    got_ex = sharded.search(q, 3, ef=n, exclude=ex)
    assert ex.isdisjoint({k for k, _ in got_ex})
