from pyspark.sql import functions as F

from embeddinghub_spark.functions.dedup import (
    dedup_exact,
    exact_duplicates,
    minhash_duplicate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_groups,
    word_shingles,
)
from embeddinghub_spark.functions.text import text_stats


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "The quick brown fox jumps over the lazy dog!"),  # exact dup after normalization
            (3, "the quick brown fox jumps over the lazy cat"),  # near dup
            (4, "completely different content about spark engines"),
            (5, ""),
        ],
        ["doc_id", "text"],
    )


def test_text_stats(spark):
    out = {r["doc_id"]: r for r in text_stats(_docs(spark)).collect()}
    assert out[1]["n_tokens"] == 9
    assert out[5]["n_tokens"] == 0
    assert out[1]["n_stopwords"] == 2  # 'the' twice
    assert out[2]["n_punct"] == 1  # the '!'
    assert out[1]["lang_detected"] == "en"
    assert out[5]["lang_detected"] == "und"
    assert 0.0 <= out[1]["quality"] <= 1.0
    # doc 1 and 2 normalize identically
    assert out[1]["fingerprint"] == out[2]["fingerprint"]
    assert out[1]["fingerprint"] != out[3]["fingerprint"]


def test_exact_dedup(spark):
    docs = _docs(spark)
    groups = {r["keep_id"]: r["n_docs"] for r in exact_duplicates(docs).collect()}
    assert groups[1] == 2  # docs 1+2 collapse
    kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert kept == [1, 3, 4, 5]


def test_minhash_finds_near_dups(spark):
    docs = _docs(spark)
    sig = docs.select(minhash_signature("text").alias("s")).first()["s"]
    assert len(sig) == 8
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_duplicate_pairs(docs).collect()
    }
    assert (1, 2) in pairs  # identical token streams modulo case/punct? no — raw tokens differ ('dog' vs 'dog!')
    # 1 vs 3 share 7/9 tokens — high shingle overlap, should band-match
    assert any(a == 1 or b == 1 for a, b in pairs)


def test_ngram_jaccard_verifies(spark):
    docs = _docs(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    for (a, b), j in pairs.items():
        assert 0.3 <= j <= 1.0
    assert (4, 5) not in pairs


def test_simhash_groups(spark):
    docs = _docs(spark)
    out = simhash_groups(docs).collect()
    total = sum(r["n_docs"] for r in out)
    assert total == 5


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "one two")], ["doc_id", "text"])
    sh = df.select(word_shingles("text", 3).alias("s")).first()["s"]
    assert sh == ["one two"]

def test_simhash_near_pairs(spark):
    from embeddinghub_spark.functions.dedup import simhash_near_pairs

    # SimHash distances are meaningful on long docs: 1 of 50 tokens
    # changed → a handful of flipped bits; unrelated text → ~32
    base = " ".join(f"token{i}" for i in range(50))
    near = " ".join(f"token{i}" for i in range(49)) + " changed"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, "unrelated text entirely different subject")],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, max_hamming=16).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 8
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_connected_components_transitive(spark):
    from embeddinghub_spark.functions.dedup import connected_components

    # chain 1-2-3 plus isolated pair 7-9: transitivity must group 1,2,3
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], ["id_a", "id_b"])
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[7] == comp[9] == 7


def test_dedup_clusters_all_docs(spark):
    from embeddinghub_spark.functions.dedup import dedup_clusters

    docs = _docs(spark)
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5}  # every doc gets a cluster
    assert out[1] == 1 and out[2] == 1  # near-identical docs cluster together
    assert out[4] == 4  # singleton keeps its own id
    # cluster ids are always the min member id
    for d, c in out.items():
        assert c <= d


def test_embedding_near_duplicates_banded(spark):
    from embeddinghub_spark.functions.dedup import embedding_near_duplicates

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.99, 0.01, 0.0, 0.0]),  # near-dup of 1
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(vecs, dim=4, threshold=0.95).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_connected_components_adversarial_path(spark):
    """A 10k-node path graph is the adversarial case for plain
    min-label propagation (O(n) rounds — each round moves the label
    one hop). Alternating large-star/small-star must converge in
    ~log2(n) rounds: bound it at ceil(log2(n)) + 3."""
    import math

    from embeddinghub_spark.functions.dedup import connected_components

    n = 10_000
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    stats = {}
    # driver_max_edges=0 forces the DISTRIBUTED star rounds — the
    # round-count bound is what this test certifies (the r16 driver
    # union-find gate would otherwise absorb a 10k-edge graph)
    comp = connected_components(edges, stats=stats, driver_max_edges=0)
    assert comp.filter(F.col("component") != 0).count() == 0
    assert comp.count() == n
    bound = math.ceil(math.log2(n)) + 3
    assert stats["rounds"] <= bound, f"{stats['rounds']} rounds > {bound}"


def test_connected_components_driver_gate_parity(spark):
    """The size-gated driver union-find (r16) and the distributed
    star rounds must label identically — same (node, component) set,
    component = min id — including self-loop singletons and isolated
    pairs."""
    from embeddinghub_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (11, 11), (5, 4)], ["id_a", "id_b"]
    )
    fast = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    slow = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert fast == slow
    assert fast[3] == 1 and fast[9] == 7 and fast[11] == 11 and fast[5] == 4


def test_word_set_pattern_parity_with_token_filter(spark):
    """The regexp token-membership counts must equal the original
    split-then-filter semantics on adversarial inputs: attached
    punctuation ('the,' is NOT a token match), consecutive stopwords,
    runs of spaces, case variants, edges of string, empty text."""
    from embeddinghub_spark.functions.text import (
        STOPWORDS,
        stopword_count,
        token_count,
        tokens,
    )
    from pyspark.sql import functions as F

    rows = [
        ("the cat sat on the mat",),
        ("The THE tHe",),
        ("the, cat. the; -the the-",),   # attached punct: zero matches
        ("the  a   an",),                # multi-space runs
        ("a",), ("a ",), (" a",),        # string edges
        ("", ), ("   ",),
        ("atlas that breathe",),         # substrings must not match
        ("is it is it is",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    ref = df.select(
        "text",
        F.size(tokens("text")).alias("nt_ref"),
        F.size(
            F.filter(tokens("text"), lambda t: F.array_contains(sw, F.lower(t)))
        ).alias("sw_ref"),
        token_count("text").alias("nt"),
        stopword_count("text").alias("sw"),
    )
    for r in ref.collect():
        assert r["nt"] == r["nt_ref"], r
        assert r["sw"] == r["sw_ref"], r


def test_chunk_documents_boundaries(spark):
    """Coverage and no-redundant-tail invariants: every token lands in
    some chunk; a final window fully contained in the previous chunk is
    never emitted; empty docs emit no chunks."""
    from embeddinghub_spark.functions.text import chunk_documents

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [
        (1, words(5)),    # shorter than one chunk -> 1 chunk of 5
        (2, words(8)),    # exactly chunk_tokens -> 1 chunk
        (3, words(9)),    # one past -> 2 chunks (stride 6)
        (4, words(10)),   # tail 9..10 inside chunk2's window -> 2 chunks
        (5, words(14)),   # starts seq(1,12,6)=[1,7]: tail 13-14 is inside chunk 2 -> 2 chunks
        (6, ""),          # empty -> no chunks
        (7, "   "),       # whitespace only -> no chunks
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, chunk_tokens=8, overlap=2)
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_n_tokens"], r["chunk_text"])
        for r in out.collect()
    }
    counts = {}
    for (d, _c), (n, _t) in got.items():
        counts[d] = counts.get(d, 0) + 1
    assert counts == {1: 1, 2: 1, 3: 2, 4: 2, 5: 2}
    assert got[(1, 0)][0] == 5
    assert got[(3, 1)] == (3, "w6 w7 w8")          # tail covered
    assert got[(4, 1)][1].endswith("w9")            # last token present
    # overlap: chunk i starts at i*stride
    assert got[(3, 1)][1].split()[0] == "w6"


def test_stratified_sample_deterministic_and_scoped(spark):
    """Same seed -> identical sample regardless of partitioning;
    strata not in the fraction map are dropped; fraction 0 keeps
    nothing, 1.0 keeps everything."""
    from embeddinghub_spark.operators.split import stratified_sample

    rows = [(i, "abc"[i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, ["k", "s"])
    frac = {"a": 0.3, "b": 1.0}
    r1 = {r["k"] for r in stratified_sample(df, "s", frac, ["k"]).collect()}
    r2 = {
        r["k"]
        for r in stratified_sample(df.repartition(13), "s", frac, ["k"]).collect()
    }
    assert r1 == r2
    by_s = {"a": 0, "b": 0, "c": 0}
    for k in r1:
        by_s["abc"[k % 3]] += 1
    assert by_s["c"] == 0          # unlisted stratum dropped
    assert by_s["b"] == 1000       # fraction 1.0 keeps all
    assert 200 < by_s["a"] < 400   # ~0.3 of 1000


def test_dedup_passages_first_occurrence_and_rebuild(spark):
    from embeddinghub_spark.functions.dedup import dedup_passages

    # W=2 passages: doc 1 = [a b][c d], doc 2 = [c d][e f] (shares
    # [c d] with doc 1 at a later (doc,idx) -> dropped there),
    # doc 3 = [a b] only (fully owned by doc 1 -> empty rebuild),
    # doc 4 = empty (no row)
    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "c d e f"),
            (3, "a b"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup_passages(df, passage_tokens=2).collect()
    }
    assert set(out) == {1, 2, 3}  # empty doc emits no row
    assert out[1]["clean_text"] == "a b c d"
    assert out[1]["n_passages"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["clean_text"] == "e f"  # "c d" owned by doc 1
    assert out[2]["n_passages"] == 2 and out[2]["n_kept"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0


def test_dedup_passages_order_preserved(spark):
    from embeddinghub_spark.functions.dedup import dedup_passages

    # surviving passages must be rejoined in document order even when
    # a middle passage is removed
    df = spark.createDataFrame(
        [(1, "x y p q z w"), (2, "p q")],
        ["doc_id", "text"],
    )
    # doc 2's only passage "p q" is owned by doc 1 idx 1
    out = {
        r["doc_id"]: r for r in dedup_passages(df, passage_tokens=2).collect()
    }
    assert out[1]["clean_text"] == "x y p q z w"
    assert out[2]["n_kept"] == 0


def test_minhash_index_incremental(spark, tmp_path):
    from embeddinghub_spark.functions.dedup import (
        minhash_index_append,
        minhash_index_probe,
    )

    idx = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different content about spark engines here"),
        ],
        ["doc_id", "text"],
    )
    batch2 = spark.createDataFrame(
        [(3, "another unrelated document about databases and storage")],
        ["doc_id", "text"],
    )
    minhash_index_append(spark, idx, base)
    minhash_index_append(spark, idx, batch2)  # appends accumulate

    # a near-copy of doc 1 probes positive against the FIRST batch,
    # negative against everything else; corpus text is never re-read
    probe = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    pairs = {
        (r["probe_id"], r["index_id"])
        for r in minhash_index_probe(spark, idx, probe).collect()
    }
    assert pairs == {(100, 1)}

    # re-probing an already-indexed id never matches itself
    self_probe = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    again = {
        (r["probe_id"], r["index_id"])
        for r in minhash_index_probe(spark, idx, self_probe).collect()
    }
    assert (1, 1) not in again


def test_containment_vs_jaccard(spark):
    from embeddinghub_spark.functions.dedup import containment_pairs

    # doc 2 is doc 1 plus a long unrelated tail: containment of the
    # smaller set is 1.0 while jaccard is far below threshold
    core = "the quick brown fox jumps over the lazy dog again and again"
    tail = (
        " meanwhile a completely separate passage discusses distributed"
        " query engines shuffle partitions and columnar storage formats"
        " at considerable length adding many more unique shingles"
    )
    df = spark.createDataFrame(
        [(1, core), (2, core + tail), (3, "nothing in common here at all")],
        ["doc_id", "text"],
    )
    rows = containment_pairs(df, threshold=0.95).collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(1, 2)}
    assert rows[0]["containment"] == 1.0


def test_minhash_index_params_sidecar(spark, tmp_path):
    """ADVICE round 3: the on-disk index records its hashing params;
    probing or appending with different params raises instead of
    silently returning un-matching (mostly empty) candidates."""
    import pytest

    from embeddinghub_spark.functions.dedup import (
        minhash_index_append,
        minhash_index_probe,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "mh_idx")
    minhash_index_append(spark, idx, docs, num_hashes=8, bands=4)

    with pytest.raises(ValueError, match="band hashes"):
        minhash_index_probe(spark, idx, docs, num_hashes=16, bands=4)
    with pytest.raises(ValueError, match="band hashes"):
        minhash_index_append(spark, idx, docs, num_hashes=8, bands=2)
    # matching params still work end-to-end
    assert minhash_index_probe(
        spark, idx, docs, num_hashes=8, bands=4
    ).count() == 0  # self-matches dropped


def test_semantic_dedup_keep_rule(spark, sf_dir):
    from pyspark.sql import functions as F

    from embeddinghub_spark.functions.dedup import semantic_dedup
    from embeddinghub_spark.functions.vector import dot, norm

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = semantic_dedup(emb, dim=64, n_clusters=8, threshold=0.3)
    rows = out.collect()
    assert len(rows) == emb.count(), "one row per input vector"
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append((r["vec_id"], r["kept"]))
    # the lowest id in every cell can never be dominated
    for cell, members in by_cell.items():
        lo = min(members)[0]
        assert dict(members)[lo] is True, f"min id {lo} dropped in cell {cell}"
    # every dropped vector really has a lower-id near-dup in its cell
    dropped = [r["vec_id"] for r in rows if not r["kept"]]
    assert dropped, "threshold 0.3 should drop something on this corpus"
    joined = (
        out.alias("a")
        .join(emb.alias("e"), F.col("a.vec_id") == F.col("e.vec_id"))
        .select("a.vec_id", "a.cell", "a.kept", "e.embedding")
    )
    x, y = joined.alias("x"), joined.alias("y")
    witness = (
        x.join(
            y,
            (F.col("x.cell") == F.col("y.cell"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .filter(
            dot("x.embedding", "y.embedding", 64)
            / (norm("x.embedding", 64) * norm("y.embedding", 64))
            >= 0.3 - 1e-9
        )
        .select(F.col("y.vec_id").alias("v"))
        .distinct()
    )
    witnessed = {r["v"] for r in witness.collect()}
    assert set(dropped) <= witnessed


def test_unigram_logprob_small(spark):
    import math

    from embeddinghub_spark.functions.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b"), (3, "")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    assert 3 not in rows, "empty doc emits no row"
    # corpus: a x3, b x2, N=5
    n = 5.0
    lp1 = (2 * round(math.log10(3 / n), 9) + round(math.log10(2 / n), 9)) / 3
    lp2 = (round(math.log10(3 / n), 9) + round(math.log10(2 / n), 9)) / 2
    assert rows[1]["n_tokens"] == 3
    assert abs(rows[1]["logprob"] - round(lp1, 6)) < 1e-9
    assert abs(rows[2]["logprob"] - round(lp2, 6)) < 1e-9
    # the doc with proportionally more common words scores higher
    assert rows[1]["logprob"] > rows[2]["logprob"]


def test_duplicate_spans_maximal_merge(spark):
    """Overlapping duplicated grams merge into ONE maximal span; the
    copied region is found at ANY token offset (the property the
    fixed-window passage dedup lacks)."""
    from embeddinghub_spark.functions.dedup import duplicate_spans

    copied = "p q r s t"  # 5 tokens, shared verbatim by docs 1 and 2
    df = spark.createDataFrame(
        [
            (1, "a b " + copied + " c d"),     # copy at offset 2
            (2, "u v w " + copied + " x"),     # copy at offset 3 (misaligned)
            (3, "m n o m n o m n o"),          # self-repetition only
            (4, "f g h i j k"),                # unique -> zero spans
            (5, "a b"),                        # shorter than gram_n -> no row
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in duplicate_spans(df, gram_n=3).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # docs 1/2: the three 3-grams inside "p q r s t" merge into one
    # span of exactly the 5 copied tokens
    for d in (1, 2):
        assert out[d]["n_dup_spans"] == 1
        assert out[d]["dup_tokens"] == 5
    assert out[1]["total_tokens"] == 9
    assert abs(out[1]["dup_fraction"] - round(5 / 9, 6)) < 1e-9
    # doc 3: "m n o" repeats -> every gram duplicated -> whole doc one span
    assert out[3]["n_dup_spans"] == 1
    assert out[3]["dup_tokens"] == 9
    # doc 4: nothing duplicated
    assert out[4]["n_dup_spans"] == 0 and out[4]["dup_fraction"] == 0.0


def test_duplicate_spans_disjoint_islands(spark):
    """Two separated copied regions report as two spans, not one."""
    from embeddinghub_spark.functions.dedup import duplicate_spans

    df = spark.createDataFrame(
        [
            (1, "a b c X X a b c Y Y"),  # "a b c" twice, split by uniques
            (2, "zz"),
        ],
        ["doc_id", "text"],
    )
    row = {r["doc_id"]: r for r in duplicate_spans(df, gram_n=3).collect()}[1]
    assert row["n_dup_spans"] == 2
    assert row["dup_tokens"] == 6


def test_nb_classifier_discriminates_and_respects_holdout(spark):
    """Disjoint class vocabularies -> the distilled NB separates them;
    holdout docs (id % 5 == 0) are scored but never trained on, and a
    token unseen in training gets the smoothed floor, not a crash."""
    from embeddinghub_spark.functions.text import nb_classifier

    rows = []
    for i in range(1, 20):
        if i % 5 == 0:
            continue
        rows.append((i, "good clean prose text", "en" if i % 2 else "de"))
    # make vocab class-separable: en docs say "alpha", others "beta"
    rows = [
        (i, ("alpha alpha nice" if lang == "en" else "beta beta bad"), lang)
        for i, _, lang in rows
    ]
    # holdout docs: id 5 uses en-vocab, id 10 uses neg-vocab,
    # id 15 uses a token never seen in training
    rows += [
        (5, "alpha alpha alpha", "en"),
        (10, "beta beta beta", "de"),
        (15, "zeta zeta", "en"),
    ]
    out = {
        r["doc_id"]: r
        for r in nb_classifier(
            spark.createDataFrame(rows, ["doc_id", "text", "lang"])
        ).collect()
    }
    assert len(out) == len(rows)
    # training rows classify by their vocabulary
    for i, _, lang in rows:
        if i in (5, 10, 15):
            continue
        assert out[i]["predicted"] == (lang == "en"), (i, out[i])
        assert not out[i]["is_holdout"]
    # holdout rows scored by the trained weights
    assert out[5]["is_holdout"] and out[5]["predicted"]
    assert out[10]["is_holdout"] and not out[10]["predicted"]
    # unseen-token doc falls back to prior + floor weights (finite)
    assert out[15]["is_holdout"] and out[15]["log_odds"] is not None


def test_remove_duplicate_spans_keeps_first_copy(spark):
    """The first occurrence of a duplicated region survives verbatim;
    later copies lose exactly the covered tokens; unique text is
    untouched; a fully-copied doc comes back empty, not missing."""
    from embeddinghub_spark.functions.dedup import remove_duplicate_spans

    df = spark.createDataFrame(
        [
            (1, "a b p q r c d"),   # first copy of "p q r" (gram at 3)
            (2, "x y p q r z"),     # later copy -> loses p q r
            (3, "p q r"),           # later copy, nothing else -> empty
            (4, "unique words only here"),
            (5, ""),                # empty -> no row (zero tokens)
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(df, gram_n=3).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["clean_text"] == "a b p q r c d"
    assert out[2]["clean_text"] == "x y z"
    assert out[2]["kept_tokens"] == 3 and out[2]["total_tokens"] == 6
    assert out[3]["clean_text"] == "" and out[3]["kept_tokens"] == 0
    assert out[4]["clean_text"] == "unique words only here"


def test_hash_vectorizer_replica_and_cancellation(spark):
    """Sparse hashed features equal a pure-Python md5 replica; signed
    counts that cancel produce NO row (sparse zero)."""
    import hashlib
    from collections import Counter

    from embeddinghub_spark.functions.text import hash_vectorizer

    dim = 8
    docs = [(1, "aa bb aa cc"), (2, "aa"), (3, "")]
    got = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in hash_vectorizer(
            spark.createDataFrame(docs, ["doc_id", "text"]), dim=dim
        ).collect()
    }

    expected: Counter = Counter()
    for did, text in docs:
        for w in text.split():
            h = hashlib.md5(w.encode()).hexdigest()
            b = int(h[:15], 16) % dim
            s = 1 if int(h[15], 16) % 2 == 0 else -1
            expected[(did, b)] += s
    expected = {k: v for k, v in expected.items() if v != 0}
    assert got == expected
    assert all(did != 3 for did, _ in got)  # empty doc -> no rows


def test_gram_index_incremental_probe(spark, tmp_path):
    """Two appends accumulate; the probe finds the copied span of a
    new doc against BOTH indexed batches without re-reading them;
    parameter mismatch raises instead of silently missing matches."""
    import pytest

    from embeddinghub_spark.functions.dedup import (
        gram_index_append,
        gram_index_probe_spans,
    )

    idx = str(tmp_path / "gram_idx")
    batch1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    batch2 = spark.createDataFrame(
        [(2, "one two three four five six")], ["doc_id", "text"]
    )
    gram_index_append(spark, idx, batch1, gram_n=3)
    gram_index_append(spark, idx, batch2, gram_n=3)

    probe = spark.createDataFrame(
        [
            # copies 4 tokens from batch1 and 3 from batch2
            (10, "xx beta gamma delta epsilon yy one two three zz"),
            (11, "totally novel words only here"),
        ],
        ["doc_id", "text"],
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["span_tokens"]
        for r in gram_index_probe_spans(spark, idx, probe, gram_n=3).collect()
    }
    # tokens 2-5 copied from batch1, tokens 7-9 from batch2
    assert spans == {(10, 2, 5): 4, (10, 7, 9): 3}

    with pytest.raises(ValueError, match="gram index"):
        gram_index_probe_spans(spark, idx, probe, gram_n=4)


def test_index_sidecar_first_append_leaves_only_the_json(spark, tmp_path):
    """The params sidecar is written to a temp file and renamed into
    place: after a first append the index directory holds the sidecar
    JSON with the append's parameters, next to Spark's own output,
    and no temp file."""
    import json
    import os

    from embeddinghub_spark.functions.dedup import gram_index_append

    idx = str(tmp_path / "gram_idx")
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    gram_index_append(spark, idx, batch, gram_n=3)
    own = sorted(
        f for f in os.listdir(idx)
        if not f.startswith("bucket=") and "_SUCCESS" not in f
    )
    assert own == ["_gram_params.json"]
    with open(os.path.join(idx, "_gram_params.json")) as f:
        assert json.load(f) == {"gram_n": 3, "n_buckets": 16}


def test_index_sidecar_of_a_file_uri_lands_next_to_the_index(
    spark, tmp_path, monkeypatch
):
    """A ``file://`` index dir keeps its params sidecar inside the
    index Spark writes, not under a ``file:`` directory of the working
    directory: a probe with other parameters, run from another working
    directory, still raises."""
    import os

    import pytest

    from embeddinghub_spark.functions.dedup import (
        minhash_index_append,
        minhash_index_probe,
    )

    idx = tmp_path / "idx"
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    for d in ("append_cwd", "probe_cwd"):
        (tmp_path / d).mkdir()
    monkeypatch.chdir(tmp_path / "append_cwd")
    minhash_index_append(spark, f"file://{idx}", docs)
    assert os.path.isfile(idx / "_minhash_params.json")
    monkeypatch.chdir(tmp_path / "probe_cwd")
    with pytest.raises(ValueError, match="band hashes"):
        minhash_index_probe(spark, f"file://{idx}", docs, num_hashes=16)
    for d in ("append_cwd", "probe_cwd"):
        assert os.listdir(tmp_path / d) == []


def test_source_divergence_detects_outlier(spark):
    """A group whose vocabulary diverges from the corpus scores
    strictly higher KL than corpus-typical groups; KL >= 0 up to the
    term-rounding epsilon; a group identical to the pooled corpus
    distribution scores ~0."""
    from embeddinghub_spark.functions.text import source_divergence

    typical = "the quick brown fox jumps over the lazy dog"
    rows = (
        [(f"a{i}", "src_a", typical) for i in range(5)]
        + [(f"b{i}", "src_b", typical) for i in range(5)]
        + [(f"c{i}", "src_c", "zz yy xx ww vv uu tt ss rr") for i in range(5)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r["source"]: r["kl_divergence"] for r in source_divergence(df).collect()}
    assert set(out) == {"src_a", "src_b", "src_c"}
    assert out["src_c"] > out["src_a"] + 0.1
    assert out["src_a"] == out["src_b"]
    assert all(v >= -1e-6 for v in out.values())


def test_normalize_text_knobs(spark):
    from embeddinghub_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [(1, "  Hello,  WORLD!!  42 items &  7 more  ")], ["doc_id", "text"]
    )
    full = normalize_text(df, mask_digits=True).collect()[0]["normalized"]
    assert full == "hello world 0 items 0 more"
    keep_case = normalize_text(df, lowercase=False).collect()[0]["normalized"]
    assert keep_case == "Hello WORLD 42 items 7 more"
    keep_punct = normalize_text(df, strip_punct=False).collect()[0]["normalized"]
    assert keep_punct == "hello, world!! 42 items & 7 more"


def test_normalize_text_whitespace_types(spark):
    """Newlines/tabs normalize like spaces — never glue words."""
    from embeddinghub_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [(1, "hello\nworld"), (2, "a\t\tb  c"), (3, "hello world")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["normalized"] for r in normalize_text(df).collect()}
    assert out[1] == "hello world" == out[3]
    assert out[2] == "a b c"


def test_winnowing_guarantee_and_sampling(spark):
    """Winnowing (Schleimer 2003): (1) any shared token run of at
    least window+gram_n-1 tokens yields >= 1 SHARED fingerprint
    between the two docs; (2) the selected set is a small fraction of
    all grams; (3) short docs (fewer grams than the window) still get
    their overall-min fingerprint; (4) rightmost-min tie rule makes
    selection position-robust (a shifted copy selects the same gram
    CONTENT)."""
    from embeddinghub_spark.functions.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 = 4+4-1 tokens
    rows = [
        (1, "one two three " + shared + " four five six"),
        (2, shared + " completely different tail words here"),
        (3, "unrelated content with no overlap at all whatsoever"),
        (4, "tiny doc here"),          # 3 tokens < gram_n -> no grams
        (5, "exactly four tokens okay"),  # 4 tokens -> 1 gram < window
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnow_fingerprints(df).collect()
    by_doc: dict = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "guaranteed shared fingerprint missing"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    assert 4 not in by_doc          # no grams at all
    assert len(by_doc[5]) == 1      # single overall-min fingerprint
    # sampling: far fewer fingerprints than grams for doc 1 (13 tokens
    # -> 10 grams)
    assert len(by_doc[1]) < 10
    pairs = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in winnow_pairs(df, min_shared=1).collect()
    }
    assert set(pairs) == {(1, 2)}


def test_dedup_keep_best_prefers_quality_then_id(spark):
    from pyspark.sql import Row

    from embeddinghub_spark.functions.dedup import dedup_keep_best

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=1, text=base, q=10),
        Row(doc_id=2, text=base + " extra", q=99),  # best in cluster
        Row(doc_id=3, text=base, q=99),  # ties 2 on q -> smaller id wins
        Row(doc_id=4, text="completely different words entirely here", q=5),
    ]
    out = {
        r.cluster_id: (r.keep_id, r.quality, r.n_docs)
        for r in dedup_keep_best(
            spark.createDataFrame(rows), "q"
        ).collect()
    }
    # docs 1-3 cluster together (near-dups); 4 is a singleton
    assert out[1] == (2, 99, 3)
    assert out[4] == (4, 5, 1)


def test_semantic_contamination_flags_near_train_vectors(spark):
    """Cross-corpus contamination: an eval vector nearly identical to
    a train vector is flagged with the right best-match; an orthogonal
    one is clean. LSH candidates + exact verify must equal brute-force
    cosine on a seeded corpus (recall pin)."""
    import random

    from embeddinghub_spark.functions.dedup import semantic_contamination

    dim = 8
    rng = random.Random(5)

    def vec():
        return [rng.gauss(0, 1) for _ in range(dim)]

    train_rows = [(i, vec()) for i in range(1, 41)]
    # eval 101: a jittered copy of train 7 -> contaminated
    # eval 102: an orthogonal-ish fresh vector -> clean (w.h.p.)
    base = train_rows[6][1]
    eval_rows = [
        (101, [x + rng.gauss(0, 0.01) for x in base]),
        (102, [10.0 if j == 0 else 0.0 for j in range(dim)]),
    ]
    train = spark.createDataFrame(
        train_rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    ev = spark.createDataFrame(
        eval_rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    out = {
        r.eval_id: r
        for r in semantic_contamination(train, ev, dim, threshold=0.98).collect()
    }
    assert len(out) == 2
    assert out[101].contaminated and out[101].train_id == 7
    assert out[101].cosine >= 0.98

    # brute-force recall pin: every eval x train pair >= threshold
    # must be found by the banded path (same rounding)
    import math

    def cosine(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    brute = {
        eid: max(
            ((cosine(ev_v, tv), tid) for tid, tv in train_rows),
            default=None,
        )
        for eid, ev_v in eval_rows
    }
    for eid, best in brute.items():
        if best and best[0] >= 0.98:
            assert out[eid].contaminated, eid
            assert out[eid].cosine == best[0]
        else:
            assert not out[eid].contaminated, eid
            assert out[eid].train_id is None and out[eid].cosine is None


def test_minhash_tune_picks_threshold_matched_banding():
    """The tuner picks the factorization whose S-curve midpoint hugs
    the target, prefers recall on ties, and reports the textbook
    candidate probabilities (no Spark needed — driver-side math)."""
    import pytest

    from embeddinghub_spark.functions.dedup import (
        banding_candidate_probability,
        minhash_tune,
    )

    # 16 hashes, target 0.5: candidates are (1,16)..(16,1); midpoint
    # (1/b)^(1/r): b=8,r=2 -> 0.354; b=4,r=4 -> 0.707; b=16,r=1 ->
    # 0.0625... closest to 0.5 is b=8,r=2 (|0.146|) vs b=4,r=4
    # (|0.207|)
    t = minhash_tune(0.5, 16)
    assert (t["bands"], t["rows"]) == (8, 2)
    assert t["bands"] * t["rows"] == 16

    # higher thresholds push toward more rows per band
    hi = minhash_tune(0.9, 16)
    assert hi["rows"] > t["rows"]

    # probability model sanity: monotone in s, endpoints exact
    ps = [banding_candidate_probability(s / 10, 8, 2) for s in range(11)]
    assert ps == sorted(ps)
    assert ps[0] == 0.0 and ps[-1] == 1.0
    assert t["p_at_threshold"] == round(
        banding_candidate_probability(0.5, 8, 2), 6
    )
    assert 0.0 < t["fn_rate_at"] < 1.0 and 0.0 < t["fp_rate_at"] < 1.0

    with pytest.raises(ValueError):
        minhash_tune(0.0, 16)
    with pytest.raises(ValueError):
        banding_candidate_probability(1.5, 4, 2)


def test_semantic_auto_k_rule():
    """VERDICT r8 #2 pin: the default cluster count follows the
    SemDeDup K ∝ N recipe — K = ceil(N / target_cell_size), floor 1 —
    so the expected cell population (and thus the quadratic
    within-cell pair cost) stays constant as the corpus grows."""
    import pytest

    from embeddinghub_spark.functions.dedup import semantic_auto_k

    assert semantic_auto_k(0) == 1
    assert semantic_auto_k(1) == 1
    assert semantic_auto_k(8192) == 1
    assert semantic_auto_k(8193) == 2
    assert semantic_auto_k(440_000_000, 8800) == 50_000  # the paper's LAION point
    # proportionality at a fixed cell size
    assert semantic_auto_k(500, 100) == 5
    assert semantic_auto_k(5000, 100) == 50
    with pytest.raises(ValueError):
        semantic_auto_k(10, 0)


def test_semantic_dedup_auto_sizes_n_clusters(spark):
    """An unparameterized semantic_dedup call must pick K from the
    corpus count (K = ceil(N/target_cell_size)), not a fixed constant:
    with well-separated centroid archetypes, the number of distinct
    cells in the output equals the auto K at BOTH corpus sizes."""
    from embeddinghub_spark.functions.dedup import semantic_dedup

    def corpus(n):
        rows = []
        for i in range(n):
            v = [0.0] * 4
            v[i % 3] = 1.0
            v[3] = 0.01 * i  # keep vectors distinct
            rows.append((i + 1, v))
        return spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    # N=12, cell target 4 -> K=3; first 3 vectors are e0/e1/e2 archetypes
    out = semantic_dedup(
        corpus(12), dim=4, threshold=0.999, target_cell_size=4
    )
    cells = {r["cell"] for r in out.collect()}
    assert cells == {1, 2, 3}
    # N=8, cell target 4 -> K=2
    out2 = semantic_dedup(
        corpus(8), dim=4, threshold=0.999, target_cell_size=4
    )
    assert {r["cell"] for r in out2.collect()} == {1, 2}


def _set_conf(spark, key, value):
    old = spark.conf.get(key, None)
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)
    return old


def test_minhash_index_probe_no_forced_broadcast_result_parity(spark, tmp_path):
    """VERDICT r9: the probe no longer force-broadcasts its side —
    AQE size-gates the broadcast (span-index discipline) and falls
    back to a shuffle join on the bucketed key. Result parity is
    pinned against the legacy forced-broadcast shape in BOTH regimes:
    broadcast allowed, and broadcast disabled (the oversized-batch
    fallback path an unconditional F.broadcast could never take)."""
    from embeddinghub_spark.functions import dedup as D
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = []
    for i in range(40):
        if i % 5 == 0:
            corpus.append((i, base + f" tail {i % 2}"))
        else:
            corpus.append((i, f"distinct corpus document {i} marker {i*i} end"))
    idx_dir = str(tmp_path / "idx")
    D.minhash_index_append(
        spark, idx_dir, spark.createDataFrame(corpus, ["doc_id", "text"])
    )
    probe_rows = [(100 + i, base + f" tail {i % 2}") for i in range(6)] + [
        (200 + i, f"novel probe document {i} nothing shared {i*7}")
        for i in range(6)
    ]
    probe_df = spark.createDataFrame(probe_rows, ["doc_id", "text"])

    # legacy shape, inlined: unconditional broadcast of the probe side
    def legacy():
        idx = spark.read.parquet(idx_dir).select(
            F.col("doc_id").alias("index_id"), "band", "band_hash", "bucket"
        )
        probe = (
            D.minhash_candidates(probe_df, "text", "doc_id", 8, 4, 3)
            .withColumn("bucket", D._band_bucket(16))
            .select(F.col("doc_id").alias("probe_id"), "band", "band_hash",
                    "bucket")
        )
        return {
            (r["probe_id"], r["index_id"])
            for r in idx.join(F.broadcast(probe),
                              ["bucket", "band", "band_hash"])
            .filter(F.col("index_id") != F.col("probe_id"))
            .select("probe_id", "index_id").distinct().collect()
        }

    expected = legacy()
    assert expected, "probe corpus must produce candidates"
    got_bcast = {
        (r["probe_id"], r["index_id"])
        for r in D.minhash_index_probe(spark, idx_dir, probe_df).collect()
    }
    assert got_bcast == expected

    o1 = _set_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1")
    o2 = _set_conf(spark, "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        got_shuffle = {
            (r["probe_id"], r["index_id"])
            for r in D.minhash_index_probe(spark, idx_dir, probe_df).collect()
        }
    finally:
        _set_conf(spark, "spark.sql.autoBroadcastJoinThreshold", o1)
        _set_conf(spark, "spark.sql.adaptive.autoBroadcastJoinThreshold", o2)
    assert got_shuffle == expected


def test_emb_index_probe_vectors_never_broadcast_result_parity(spark, tmp_path):
    """VERDICT r9: the embedding probe broadcasts only NARROW candidate
    keys; the batch's vectors re-join by probe_id after candidate
    generation. Exact (probe_id, index_id, cosine) parity against the
    legacy shape (probe rows carrying full vectors under a forced
    broadcast) in both the broadcastable and forced-shuffle regimes."""
    from embeddinghub_spark.functions import dedup as D
    from embeddinghub_spark.functions.vector import dot
    from pyspark.sql import functions as F

    dim, n_planes, bands, seed, n_buckets, thr = 8, 4, 2, 7, 16, 0.9
    import math

    corpus = []
    for i in range(30):
        v = [math.sin(0.7 * i + j) for j in range(dim)]
        corpus.append((i, v))
    idx_dir = str(tmp_path / "eidx")
    D.emb_index_append(
        spark, idx_dir, spark.createDataFrame(corpus, ["vec_id", "embedding"]),
        dim, n_planes=n_planes, bands=bands, seed=seed, n_buckets=n_buckets,
    )
    # probes: scaled copies of corpus vectors (cosine 1.0) + novel ones
    probe_rows = [(100 + i, [2.0 * x for x in corpus[i][1]]) for i in range(5)]
    probe_rows += [
        (200 + i, [math.cos(1.3 * i + 2 * j) for j in range(dim)])
        for i in range(5)
    ]
    probe_df = spark.createDataFrame(probe_rows, ["vec_id", "embedding"])

    def legacy():
        idx = spark.read.parquet(idx_dir).select(
            F.col("vec_id").alias("index_id"),
            F.col("embedding").alias("_ivec"),
            F.col("_norm").alias("_inorm"),
            "band", "band_val", "bucket",
        )
        probe = (
            D._emb_band_rows(probe_df, dim, "vec_id", "embedding",
                             n_planes, bands, seed)
            .withColumn("bucket", D._band_bucket(n_buckets, "band_val"))
            .select(
                F.col("vec_id").alias("probe_id"),
                F.col("embedding").alias("_pvec"),
                F.col("_norm").alias("_pnorm"),
                "band", "band_val", "bucket",
            )
        )
        return {
            (r["probe_id"], r["index_id"], r["cosine"])
            for r in idx.join(F.broadcast(probe),
                              ["bucket", "band", "band_val"])
            .filter(F.col("index_id") != F.col("probe_id"))
            .select(
                "probe_id", "index_id",
                F.round(
                    dot("_pvec", "_ivec", dim)
                    / (F.col("_pnorm") * F.col("_inorm")), 6,
                ).alias("cosine"),
            )
            .distinct()
            .filter(F.col("cosine") >= thr)
            .collect()
        }

    def run():
        return {
            (r["probe_id"], r["index_id"], r["cosine"])
            for r in D.emb_index_probe(
                spark, idx_dir, probe_df, dim, thr,
                n_planes=n_planes, bands=bands, seed=seed,
                n_buckets=n_buckets,
            ).collect()
        }

    expected = legacy()
    assert expected, "probe set must produce verified near-dups"
    assert run() == expected

    o1 = _set_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1")
    o2 = _set_conf(spark, "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        assert run() == expected
    finally:
        _set_conf(spark, "spark.sql.autoBroadcastJoinThreshold", o1)
        _set_conf(spark, "spark.sql.adaptive.autoBroadcastJoinThreshold", o2)


def test_emb_auto_planes_sizing():
    """VERDICT r9 #4: the sign-LSH plane default auto-sizes
    bits-per-band = ceil(log2(N/10^4)), floored at the certified
    16-plane (8-bit) operating point and capped at 48 planes."""
    from embeddinghub_spark.functions.dedup import emb_auto_planes

    assert emb_auto_planes(0) == 16
    assert emb_auto_planes(10_000) == 16
    assert emb_auto_planes(2_560_000) == 16       # boundary of the floor
    assert emb_auto_planes(2_560_001) == 18       # first growth step
    assert emb_auto_planes(1_000_000_000) == 34   # SCALING.md example
    assert emb_auto_planes(10**12) == 48          # max_bits clamp
    assert emb_auto_planes(10_000, bands=4) == 32  # 4 bands x 8-bit floor
    import pytest

    with pytest.raises(ValueError):
        emb_auto_planes(-1)
    with pytest.raises(ValueError):
        emb_auto_planes(10, bands=0)


def test_embedding_near_dup_auto_default_and_outgrown_warning(spark):
    """The n_planes=None default resolves to the old fixed 16 at
    small corpora (results bit-identical to an explicit 16-plane
    call), and an explicitly pinned plane count that the corpus has
    outgrown fires a RuntimeWarning naming the sizing rule."""
    import math
    import warnings

    import pytest

    from embeddinghub_spark.functions.dedup import embedding_near_duplicates

    dim = 4
    rows = []
    for i in range(40):
        v = [math.sin(0.9 * i + j) for j in range(dim)]
        rows.append((i, v))
    rows.append((100, [2.0 * x for x in rows[3][1]]))  # near-dup of 3
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    auto = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_duplicates(df, dim, 0.95).collect()
    }
    explicit = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_duplicates(
            df, dim, 0.95, n_planes=16
        ).collect()
    }
    assert auto == explicit and (3, 100, 1.0) in auto

    # 4 planes / 2 bands = 4 buckets per band; 41 rows / 4 ~ 10 > 5
    with pytest.warns(RuntimeWarning, match="per band bucket"):
        embedding_near_duplicates(
            df, dim, 0.95, n_planes=4, bands=2, bucket_warning_threshold=5
        )
    # threshold=None skips every construction-time job
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        embedding_near_duplicates(
            df, dim, 0.95, n_planes=4, bands=2,
            bucket_warning_threshold=None,
        )


# --- minhash_estimate_audit ---------------------------------------------


def _py_audit(docs, num_hashes=8, bands=4, shingle_n=3):
    """Pure-Python replica of minhash_estimate_audit: exact md5 token
    hashes, rolling shingles, affine-permutation signatures, banded
    candidates, exact Jaccard, and the e9->e6 rounding discipline."""
    import hashlib as _hl

    P, ROLL = 2147483647, 1000003

    def _mix(i):
        return 1103515245 + 2 * i, 12345 + 7919 * i

    def _r_half_up(v):  # Spark F.round(x, 0): half away from zero
        import math as _m
        return int(_m.floor(v + 0.5)) if v >= 0 else -int(_m.floor(-v + 0.5))

    def _e6(e9):
        return _r_half_up(e9 / 1000.0) / 1e6

    sigs, shingles = {}, {}
    for doc_id, text in docs:
        toks = [t for t in text.split(" ") if t]
        th = [int(_hl.md5(t.encode()).hexdigest()[:7], 16) for t in toks]
        if len(th) > shingle_n:
            sh = []
            for i in range(len(th) - shingle_n + 1):
                acc = 0
                for j in range(shingle_n):
                    acc = (acc * ROLL + th[i + j]) % P
                sh.append(acc)
        else:
            acc = 0
            for x in th:
                acc = (acc * ROLL + x) % P
            sh = [acc]
        shingles[doc_id] = sh
        sigs[doc_id] = [
            min((a * x + b) % P for x in sh)
            for a, b in (_mix(i) for i in range(num_hashes))
        ]
    rows_per_band = num_hashes // bands
    buckets = {}
    for doc_id, sig in sigs.items():
        for b in range(bands):
            acc = 0
            for x in sig[b * rows_per_band:(b + 1) * rows_per_band]:
                acc = (acc * ROLL + x) % P
            buckets.setdefault((b, acc), set()).add(doc_id)
    pairs = set()
    for ids in buckets.values():
        for a in ids:
            for b in ids:
                if a < b:
                    pairs.add((a, b))
    per_slot = {}
    for id_a, id_b in pairs:
        slots = sum(
            1 for x, y in zip(sigs[id_a], sigs[id_b]) if x == y
        )
        sa, sb = set(shingles[id_a]), set(shingles[id_b])
        jac = len(sa & sb) / len(sa | sb) if (sa | sb) else 0.0
        err9 = _r_half_up(round(abs(slots / num_hashes - jac), 9) * 1e9)
        n, s, mx = per_slot.get(slots, (0, 0, 0))
        per_slot[slots] = (n + 1, s + err9, max(mx, err9))
    return {
        slots: (
            _e6(_r_half_up(slots * 1e9 / num_hashes)),
            n,
            _e6(_r_half_up(s / n)),
            _e6(mx),
        )
        for slots, (n, s, mx) in per_slot.items()
    }


def test_minhash_estimate_audit_matches_python_replica(spark):
    """The measured estimator-error table equals an exact pure-Python
    replica (signatures, banded candidates, exact shingle Jaccard, and
    the e9->e6 presentation rounding) on a corpus with exact dups,
    near-dups, and unrelated docs."""
    from embeddinghub_spark.functions.dedup import minhash_estimate_audit

    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (4, "a completely different document about spark pipelines"),
        (5, "a completely different document about spark clusters"),
        (6, "unrelated words entirely zz yy xx ww vv uu tt"),
        (7, "the quick brown fox jumps over the lazy dog yesterday"),
    ]
    out = {
        r["matching_slots"]: (
            r["est_jaccard"], r["n_pairs"], r["mean_abs_err"], r["max_abs_err"]
        )
        for r in minhash_estimate_audit(
            spark.createDataFrame(docs, ["doc_id", "text"]),
            num_hashes=8, bands=4, shingle_n=3,
        ).collect()
    }
    want = _py_audit(docs, num_hashes=8, bands=4, shingle_n=3)
    assert want, "corpus must produce candidate pairs"
    assert out == want
    # exact dups share all slots with zero estimator error
    assert out[8][0] == 1.0 and out[8][2] == 0.0 and out[8][3] == 0.0


def test_minhash_estimate_audit_repartition_invariant(spark):
    from embeddinghub_spark.functions.dedup import minhash_estimate_audit

    docs = [
        (i, f"shared prefix tokens one two three four tail{i % 3}")
        for i in range(1, 16)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    a = minhash_estimate_audit(df, num_hashes=8, bands=4)
    b = minhash_estimate_audit(df.repartition(7), num_hashes=8, bands=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_minhash_estimate_audit_rejects_bad_banding(spark):
    import pytest

    from embeddinghub_spark.functions.dedup import minhash_estimate_audit

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="divisible"):
        minhash_estimate_audit(df, num_hashes=8, bands=3)


def test_quality_score_and_detect_language_agree_with_text_stats(spark):
    """The composable per-column builders (quality_score,
    detect_language) must agree with text_stats' fused regexp path —
    they are the same heuristics by contract (text.py), and the
    text_stats side is oracle-certified."""
    from embeddinghub_spark.functions.text import (
        detect_language,
        quality_score,
        text_stats,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog and the cat"),
        (2, "der hund und die katze sind nicht hier aber das ist gut"),
        (3, "el perro y el gato que no es una casa pero los dos"),
        (4, "le chien et le chat sont dans les maisons mais pas ici"),
        (5, "zzz qqq www !!!"),
        (6, ""),
        (7, "short"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    direct = {
        r["doc_id"]: (round(r["q"], 6), r["lang"])
        for r in df.select(
            "doc_id",
            quality_score("text").alias("q"),
            detect_language("text").alias("lang"),
        ).collect()
    }
    fused = {
        r["doc_id"]: (round(r["quality"], 6), r["lang_detected"])
        for r in text_stats(df).collect()
    }
    assert direct == fused
    assert direct[1][1] == "en" and direct[5][1] == "und"


def test_fixed_dim_bucket_crowding_parked_shape(spark):
    """PARKED regression pin for the retired fixed-dim sparse-cosine
    configs (dim=4096 r8-r11, dim=65536 r10-r12): with dim << distinct
    features, DISJOINT vocabularies still crowd the same fixed buckets
    — bucket df grows with the corpus and the inverted-index join's
    Σ_b df² inflates past the corpus's true phrase-sharing (measured
    at sf0.1→sf1: ×34.5 at dim=65536 vs ×10.0 at dim=None; PLANS_r12
    §4). Pin the law at toy scale: 200 one-word docs with 200 DISTINCT
    words have true Σ df² = 200; a fixed dim=16 inflates it by the
    crowding factor ~N/dim, while dim=None (4× distinct count) stays
    within collision noise of the truth."""
    from collections import Counter

    from embeddinghub_spark.functions.text import hash_vectorizer

    docs = spark.createDataFrame(
        [(i, f"w{i}") for i in range(200)], ["doc_id", "text"]
    )

    def sum_df2(dim):
        feats = hash_vectorizer(docs, dim=dim).collect()
        byb = Counter(r["bucket"] for r in feats)
        return sum(v * v for v in byb.values())

    fixed = sum_df2(16)
    auto = sum_df2(None)
    assert fixed >= 10 * 200, fixed  # crowding: ~N/dim=12.5× the truth
    assert auto <= int(1.5 * 200), auto  # load 0.25: near-true df
