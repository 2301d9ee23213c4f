"""Seeded input generator for the benchmark workloads.

Every function takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes parquet under a directory the caller owns (a temp
dir inside the checkout). The same seed and sizes give byte-identical
inputs. Sizes differ only in values between seeds, never in row counts,
so timings stay comparable across seeds.

Each writer returns a dict of the sizes it produced; the run prints
them beside its metrics.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_NS = 1_704_067_200 * 1_000_000_000  # 2024-01-01T00:00:00Z
DAY_NS = 86_400 * 1_000_000_000
EVENT_TYPES = np.array(["click", "purchase", "view", "error"])
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.2, 0.2, 0.1, 0.1)
EMB_DIM = 64


@dataclass(frozen=True)
class Shape:
    """The input properties the workloads vary (the knobs the engine's
    branches depend on)."""

    n_entities: int = 2_000
    zipf_s: float = 0.7  # entity popularity skew (top entity holds about 3 %)
    whale_share: float = 0.15  # top entity's share of the whale source
    label_share: float = 0.2  # share of events that are purchases (labels)
    late_share: float = 0.05  # rows whose ts lags their file position by 0-2 days
    ooo_share: float = 0.1  # rows swapped out of file order
    dup_share: float = 0.2  # exact duplicate documents
    near_dup_share: float = 0.15  # near duplicate documents
    n_clusters: int = 16  # vector clusters
    cluster_sigma: float = 0.08


def zipf_ids(rng: np.random.Generator, n: int, n_ids: int, s: float) -> np.ndarray:
    """``n`` draws from ids 0..n_ids-1 with P(rank r) ∝ r^-s, the rank
    to id map shuffled so the popular ids are not the small ones."""
    p = 1.0 / np.arange(1, n_ids + 1) ** s
    p /= p.sum()
    perm = rng.permutation(n_ids)
    return perm[rng.choice(n_ids, size=n, p=p)].astype(np.int64)


def _write(path: str, table: pa.Table, row_group_size: int | None = None) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)


def _event_ts(rng: np.random.Generator, n: int, shape: Shape) -> np.ndarray:
    """Event times over January 2024 in file order, with late rows (ts
    pulled back by up to two days) and locally out-of-order rows."""
    ts = np.sort(rng.integers(0, 31 * DAY_NS, size=n)) + EPOCH_2024_NS
    late = rng.random(n) < shape.late_share
    ts[late] -= rng.integers(0, 2 * DAY_NS, size=int(late.sum()))
    swap = np.flatnonzero(rng.random(n) < shape.ooo_share)
    partner = np.clip(swap + rng.integers(-50, 51, size=swap.size), 0, n - 1)
    ts[swap], ts[partner] = ts[partner], ts[swap].copy()
    return ts


def _events_table(rng, n, users, types, shape) -> pa.Table:
    ts = _event_ts(rng, n, shape)
    value = np.round(rng.gamma(2.0, 10.0, size=n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("ns")),
        "user_id": pa.array(users),
        "event_type": pa.array(types),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def offline_inputs(rng, out_dir: str, n_events: int, n_orders: int, shape: Shape) -> dict:
    """``events`` (balanced Zipf users, purchases are the labels),
    ``whale`` (one entity holds ``whale_share`` of the rows),
    ``customer`` and ``orders`` — the shapes of the registry's tables,
    so its DuckDB oracles replay unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    users = zipf_ids(rng, n_events, shape.n_entities, shape.zipf_s)
    p_other = (1.0 - shape.label_share) / 3
    types = rng.choice(EVENT_TYPES, size=n_events,
                       p=[p_other, shape.label_share, p_other, p_other])
    _write(os.path.join(out_dir, "events.parquet"),
           _events_table(rng, n_events, users, types, shape), n_events // 4)

    n_whale = n_events // 2
    wusers = rng.integers(0, shape.n_entities, size=n_whale)
    wusers[rng.random(n_whale) < shape.whale_share] = 0
    _write(os.path.join(out_dir, "whale.parquet"),
           _events_table(rng, n_whale, wusers.astype(np.int64),
                         np.full(n_whale, "click"), shape))

    _write(os.path.join(out_dir, "customer.parquet"), pa.table({
        "c_custkey": pa.array(np.arange(shape.n_entities, dtype=np.int64)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, shape.n_entities), 2)),
    }))
    _write(os.path.join(out_dir, "orders.parquet"), pa.table({
        "o_orderkey": pa.array(rng.permutation(n_orders).astype(np.int64)),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_orders), 2)),
    }))
    return {
        "events": n_events, "whale": n_whale, "customer": shape.n_entities,
        "orders": n_orders, "entities": shape.n_entities,
        "whale_top_share": round(float((wusers == 0).mean()), 4),
        "label_rows": int((types == "purchase").sum()),
    }


def clustered_vectors(rng, n: int, shape: Shape, centers: np.ndarray | None = None):
    """Unit-scale 64-d vectors around ``shape.n_clusters`` centres;
    returns (vectors float32 [n, 64], centres)."""
    if centers is None:
        centers = rng.normal(0.0, 1.0, size=(shape.n_clusters, EMB_DIM))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    which = rng.integers(0, len(centers), size=n)
    vecs = centers[which] + rng.normal(0.0, shape.cluster_sigma, size=(n, EMB_DIM))
    return vecs.astype(np.float32), centers


def serving_inputs(rng, out_dir: str, n_vectors: int, n_events: int, shape: Shape):
    """``vectors`` (key string, embedding array<float>) and ``events``
    for the online feature snapshot; returns (sizes, vectors, keys,
    cluster centres)."""
    os.makedirs(out_dir, exist_ok=True)
    vecs, centers = clustered_vectors(rng, n_vectors, shape)
    keys = [f"v{i:06d}" for i in range(n_vectors)]
    _write(os.path.join(out_dir, "vectors.parquet"), pa.table({
        "key": pa.array(keys),
        "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    }))
    users = zipf_ids(rng, n_events, shape.n_entities, shape.zipf_s)
    _write(os.path.join(out_dir, "events.parquet"), _events_table(
        rng, n_events, users, np.full(n_events, "click"), shape))
    return {"vectors": n_vectors, "dim": EMB_DIM, "clusters": shape.n_clusters,
            "events": n_events, "entities": shape.n_entities}, vecs, keys, centers


def ingest_base(rng, out_dir: str, n_rows: int, n_files: int) -> dict:
    """Base table of ``n_rows`` keys split into ``n_files`` key-range
    files (file i holds keys [i·n/f, (i+1)·n/f)); ``ts`` grows with the
    key, so recent keys live in the last files."""
    os.makedirs(out_dir, exist_ok=True)
    keys = np.arange(n_rows, dtype=np.int64)
    ts_us = (EPOCH_2024_NS + keys * (31 * DAY_NS // n_rows)) // 1000
    value = np.round(rng.uniform(0, 1000, n_rows), 2)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
    for i in range(n_files):
        lo, hi = bounds[i], bounds[i + 1]
        _write(os.path.join(out_dir, f"part-{i:05d}.parquet"), pa.table({
            "key": pa.array(keys[lo:hi]),
            "value": pa.array(value[lo:hi]),
            "ts": pa.array(ts_us[lo:hi], type=pa.timestamp("us")),
        }))
    return {"base_rows": n_rows, "base_files": n_files}


def ingest_batch(rng, step: int, n_base: int, next_key: int, batch_rows: int,
                 uniform: bool) -> tuple[pa.Table, int]:
    """One change batch: 80 % updates of existing keys, 20 % inserts of
    new keys. Updates favour recent (high) keys unless ``uniform``.
    Returns the batch and the next unused key."""
    n_upd = batch_rows * 4 // 5
    n_ins = batch_rows - n_upd
    if uniform:
        upd = rng.choice(n_base, size=n_upd, replace=False)
    else:
        recent = max(n_upd * 4, n_base // 16)
        upd = n_base - 1 - rng.choice(recent, size=n_upd, replace=False)
    keys = np.concatenate([upd, np.arange(next_key, next_key + n_ins)]).astype(np.int64)
    ts = EPOCH_2024_NS + 31 * DAY_NS + (step + 1) * 60_000_000_000
    table = pa.table({
        "key": pa.array(keys),
        "value": pa.array(np.round(rng.uniform(0, 1000, keys.size), 2)),
        "ts": pa.array(np.full(keys.size, ts // 1000), type=pa.timestamp("us")),
    })
    return table, next_key + n_ins


_VOCAB_SIZE = 400


def _vocab() -> list[str]:
    from embeddinghub_spark.functions.text import DOMAIN_LEXICONS, STOPWORDS

    words = list(STOPWORDS)
    for lex in DOMAIN_LEXICONS.values():
        words += lex
    syll = ["ka", "lo", "mi", "ner", "sa", "tu", "vex", "dri", "po", "quin"]
    i = 0
    while len(words) < _VOCAB_SIZE:
        words.append(syll[i % 10] + syll[(i // 10) % 10] + syll[(i // 100) % 10])
        i += 1
    return list(dict.fromkeys(words))


def corpus_inputs(rng, out_dir: str, n_docs: int, shape: Shape) -> dict:
    """``documents`` (doc_id, text, lang, source, n_chars) with Zipf
    tokens, exact duplicates, near duplicates (one token changed) and a
    spread of lengths (one in ten too short for the quality rules)."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(_vocab())
    lengths = np.where(rng.random(n_docs) < 0.1,
                       rng.integers(3, 20, n_docs),
                       rng.integers(20, 120, n_docs))
    kind = rng.choice(3, size=n_docs, p=[1 - shape.dup_share - shape.near_dup_share,
                                          shape.dup_share, shape.near_dup_share])
    kind[0] = 0
    texts: list[str] = []
    for i in range(n_docs):
        if kind[i] == 0:
            texts.append(" ".join(vocab[zipf_ids(rng, int(lengths[i]), len(vocab), 1.05)]))
            continue
        src = texts[int(rng.integers(0, i))]
        if kind[i] == 2:
            toks = src.split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            src = " ".join(toks)
        texts.append(src)
    _write(os.path.join(out_dir, "documents.parquet"), pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(np.array(LANGS), size=n_docs, p=LANG_WEIGHTS)),
        "source": pa.array(np.array([f"src{k}" for k in rng.integers(0, 8, n_docs)])),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }))
    return {"documents": n_docs, "exact_dups": int((kind == 1).sum()),
            "near_dups": int((kind == 2).sum()), "vocab": len(vocab)}
