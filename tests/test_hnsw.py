"""functions/hnsw.py — deterministic pure-Python HNSW (the reference's
embeddingstore serves NearestNeighbor from an hnswlib index,
embeddinghub/embeddingstore/index.cc:10-54; this is its in-process
sibling for the online path, recall-pinned against exact brute
force)."""

from __future__ import annotations

import copy
import hashlib
import math
import os
import random

import pytest

from embeddinghub_spark.functions import hnsw
from embeddinghub_spark.functions.hnsw import HnswIndex

HNSW_FIXTURE = os.path.join(
    os.path.dirname(__file__), "data", "hnsw", "build_64x8.hnsw.json"
)


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


def _serving_history(
    idx: HnswIndex, seed: int, rounds: int = 12, write=None,
    n_centers: int = 8,
) -> list[list[float]]:
    """400 keys in sorted-key order, 64-d around ``n_centers`` cluster
    centres, then the serving workload's write shape: ``rounds``
    32-key batches upserting a 4 x 32 pool in turn (from the fifth on,
    every batch re-links existing keys), each followed by an overwrite
    of the current entry-point key. ``write(idx, batch)`` applies a
    batch (default: ``add`` in key order, as ``Space.multiset`` does).
    Returns the cluster centres."""
    rng = random.Random(seed)
    centers = [[rng.uniform(-1.0, 1.0) for _ in range(64)]
               for _ in range(n_centers)]
    for i, v in enumerate(_clustered(rng, 400, centers)):
        idx.add(f"v{i:04d}", v)
    for r in range(rounds):
        batch = {f"w{r % 4}_{j:02d}": v
                 for j, v in enumerate(_clustered(rng, 32, centers))}
        if write is None:
            for kk, v in batch.items():
                idx.add(kk, v)
        else:
            write(idx, batch)
        idx.add(idx._entry, _clustered(rng, 1, centers)[0])
    return centers


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


def _assert_graph_invariants(idx: HnswIndex) -> None:
    """No self-links or repeated links; every linked key (source and
    target) is live at that layer; degree caps hold (``m_max0`` at
    layer 0, ``m`` above); the entry point has the maximum level."""
    for lyr, links in enumerate(idx._links):
        cap = idx.m_max0 if lyr == 0 else idx.m
        for kk, ns in links.items():
            assert idx._levels[kk] >= lyr, (lyr, kk)
            assert kk not in ns, (lyr, kk)
            assert len(set(ns)) == len(ns) <= cap, (lyr, kk, ns)
            for n in ns:
                assert n in idx._vecs and idx._levels[n] >= lyr, (lyr, n)
    assert idx._levels[idx._entry] == max(idx._levels.values())


def _forget(idx: HnswIndex, key: str) -> None:
    """Unlink ``key`` as an overwrite does, then drop it, so that the
    next ``add`` of it is a fresh insert: same key, same md5 level, the
    full ``ef_construction`` beam."""
    idx._remove_links(key)
    del idx._vecs[key], idx._levels[key]


@pytest.mark.parametrize("seed", [1, 4])
def test_overwrite_relinks_with_the_layer0_cap_beam(monkeypatch, seed):
    """An overwrite re-links its key with a beam of ``m_max0`` instead
    of ``ef_construction``. Over 300 overwriting 32-key batches of the
    serving shape, with the benchmark's 16 clusters, it costs at most
    half the distance evaluations of re-inserting the same keys with
    the full beam (the greedy upper-layer descent and the ``_shrink``
    ranking cost the same on both sides), recall@10 against brute
    force stays >= 0.95, and the graph invariants hold."""
    evals = {"n": 0}

    def counting(a, b):
        evals["n"] += 1
        return math.dist(a, b)

    monkeypatch.setattr(hnsw, "dist", counting)
    overwrite_evals: list[int] = []
    sampled = {"narrow": 0, "full": 0}

    def write(idx, batch):
        if not all(kk in idx for kk in batch):  # the pool is filling
            for kk, v in batch.items():
                idx.add(kk, v)
            return
        full = copy.deepcopy(idx) if len(overwrite_evals) % 50 == 0 else None
        n0 = evals["n"]
        for kk, v in batch.items():
            idx.add(kk, v)
        overwrite_evals.append(evals["n"] - n0)
        if full is not None:
            n0 = evals["n"]
            for kk, v in batch.items():
                _forget(full, kk)
                full.add(kk, v)
            sampled["full"] += evals["n"] - n0
            sampled["narrow"] += overwrite_evals[-1]

    idx = HnswIndex(64, seed=seed)
    centers = _serving_history(idx, seed, rounds=304, write=write,
                               n_centers=16)
    monkeypatch.undo()

    assert len(overwrite_evals) == 300 and len(idx) == 400 + 4 * 32
    assert sampled["narrow"] <= 0.5 * sampled["full"], sampled
    _assert_graph_invariants(idx)
    hits = 0
    queries = _clustered(random.Random(seed + 100), 60, centers)
    for q in queries:
        exact = set(_brute(idx._vecs, q, 10))
        hits += len(exact & {kk for kk, _ in idx.search(q, 10)})
    assert hits / (10 * len(queries)) >= 0.95


def test_overwrite_reached_through_a_stale_edge_keeps_m_links():
    """A one-way edge left pointing at a key (its own list was pruned
    past the neighbour) lets the overwrite's search reach the key
    itself at distance 0. The key is filtered out before the ``M``
    nearest are taken, so it still gets ``min(M, n - 1)`` layer-0
    links instead of giving one slot to itself."""
    n, m = 40, 4
    vecs = {f"k{i:02d}": _vec(i, 4) for i in range(n)}
    idx = HnswIndex(4, m=m, ef_construction=60, seed=3)
    for kk in sorted(vecs):
        idx.add(kk, vecs[kk])
    layer0 = idx._links[0]
    stale = [
        kk for kk in sorted(vecs)
        if any(kk in ns and src not in layer0[kk] for src, ns in layer0.items())
    ]
    assert stale, "no key has a stale inbound edge"
    for kk in stale:
        moved = copy.deepcopy(idx)
        moved.add(kk, vecs[kk])
        assert len(moved._links[0][kk]) == min(m, n - 1), kk
        _assert_graph_invariants(moved)


def test_fresh_build_matches_a_graph_saved_with_the_full_beam():
    """``data/hnsw/build_64x8.hnsw.json`` was saved by commit 6616ac4,
    which re-linked overwrites with the full ``ef_construction`` beam
    as well. Fresh inserts still use that beam, so building the same
    rows today gives the same links, levels and entry point, and the
    saved file still loads and matches the rows' digest (the check
    ``build_ann_index(persist_dir=…)`` makes before it reuses it)."""
    saved = HnswIndex.load(HNSW_FIXTURE)
    vecs = {f"k{i}": _vec(i, 8) for i in range(64)}
    assert saved.state_key() == HnswIndex.digest_rows(vecs)
    fresh = HnswIndex(8, m=8, ef_construction=60, seed=7)
    for kk in sorted(vecs):
        fresh.add(kk, vecs[kk])
    assert fresh._entry == saved._entry
    assert fresh._levels == saved._levels
    assert fresh._links == saved._links
    _assert_graph_invariants(fresh)


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
