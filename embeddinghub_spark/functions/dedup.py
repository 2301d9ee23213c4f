"""Deduplication operators for LLM training-data pipelines (beyond
the reference's surface — BASELINE.json: "dedup, similarity search").

Strategies, all shuffle-disciplined for 100 TB:

- exact: hash-groupBy on a canonical fingerprint — one shuffle on the
  16-byte hash, never on the document text.
- MinHash: per-doc signature of K independent min-hashes over token
  shingles; banding → bucket-join for candidate pairs (classic
  MMDS/LSH). Signature computation is explode-free (array exprs),
  candidate generation shuffles only (band_hash) pairs.
- SimHash: 64-bit majority fingerprint of token hashes; near-dups =
  buckets sharing the fingerprint (or its bands for Hamming<k).
- n-gram Jaccard: exact pairwise similarity *within candidate
  buckets only* — never all-pairs.
- embedding cosine: near-dup via LSH bucket + cosine threshold
  (functions.vector).

Hash function is md5-prefix → BIGINT everywhere: deterministic,
portable to any SQL oracle engine (DuckDB lacks xxhash64).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# word_shingles lives in functions.text (the tokenizer's home) and is
# re-exported here for existing importers
from embeddinghub_spark.functions.text import (  # noqa: F401
    fingerprint,
    tokens,
    word_shingles,
)
from embeddinghub_spark.functions.vector import cosine_similarity, with_lsh_bucket


def _md5_long(c: Column) -> Column:
    """First 15 hex chars of md5 → non-negative BIGINT (60 bits).
    conv() is the same in DuckDB (from_hex equivalent via
    hash-compatible SQL: CAST(('0x' || substr(md5(x),1,15)) AS BIGINT))."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


# -- exact dedup --------------------------------------------------------------

def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of exact (canonicalized) duplicates: one row per
    fingerprint with the keeper (min id) and the group size."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_docs"),
        )
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one doc (min id) per canonical fingerprint."""
    w_keep = exact_duplicates(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(w_keep, id_col, "left_semi")


# -- shingles + MinHash -------------------------------------------------------

# (word_shingles formerly defined here — now in functions.text,
# re-exported via the top-level import)


def _salt_hash(i: int):
    # single-arg lambda: a 2-arg signature would make Spark pass
    # the element index as the second argument
    return lambda s: F.md5(F.concat(F.lit(f"{i}#"), s))


def minhash_signature(
    col: Column | str, num_hashes: int = 8, shingle_n: int = 3
) -> Column:
    """Array of ``num_hashes`` min-hash values over string shingles.

    Permutation i is simulated by salting: h_i(s) = md5(i || '#' || s);
    min is lexicographic over the hex strings (identical ordering in
    any md5-bearing engine — no numeric conversion needed). Pure array
    exprs — no explode, no shuffle; one pass over each document.

    One-off/portable form. The staged pipelines below use the hashed-
    shingle family (one md5 per TOKEN + arithmetic n-gram rolling +
    affine mixes) — measured 4.6× faster at sf0.1, identical banding
    behavior; this string variant is kept as the readable reference.
    """
    sh = word_shingles(col, shingle_n)
    mins = [
        F.array_min(F.transform(sh, _salt_hash(i))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return F.array(*mins)


# Universal-hash constants shared with the oracle SQL: all arithmetic
# stays < 2^62 (28-bit base hash × 31-bit multipliers, mod 2^31-1), so
# it is exact in any 64-bit engine.
MINHASH_P = 2147483647  # 2^31 - 1
MINHASH_ROLL = 1000003
def _mix_params(i: int) -> tuple[int, int]:
    return 1103515245 + 2 * i, 12345 + 7919 * i


def token_hashes(col: Column | str) -> Column:
    """28-bit base hash per token: md5 computed ONCE per token, not
    once per (shingle × permutation) — the md5 budget of the whole
    MinHash pipeline is |tokens|."""
    return F.transform(
        tokens(col),
        lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("bigint"),
    )


def hashed_shingles(th: Column, n: int = 3) -> Column:
    """Rolling-hash word n-grams over a token-hash array: shingle i =
    polynomial fold of hashes i..i+n-1 mod 2^31-1. No string slicing
    or joining — same sliding-window semantics as ``word_shingles``
    (docs with ≤ n tokens collapse to one whole-document shingle) at
    integer-arithmetic cost."""
    k = F.size(th)

    def gram(i: Column) -> Column:
        acc = F.lit(0).cast("bigint")
        for j in range(n):
            acc = (acc * MINHASH_ROLL + F.element_at(th, i + F.lit(j))) % MINHASH_P
        return acc

    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k - F.lit(n - 1), F.lit(1))), gram
    )
    whole = F.array(
        F.aggregate(
            th,
            F.lit(0).cast("bigint"),
            lambda a, x: (a * MINHASH_ROLL + x) % MINHASH_P,
        )
    )
    # null token array (null text) → null shingles, NOT [null]: a null
    # element would otherwise be skipped by least() in the signature
    # fold and leak the LONG_MAX init downstream (ANSI overflow in the
    # band hash; found by review). Null signatures never band-join —
    # the same no-match behavior the pre-fold implementation had.
    return F.when(
        k.isNotNull(), F.when(k > n, grams).otherwise(whole)
    )


def _with_signature(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
    keep_shingles: bool = False,
) -> DataFrame:
    """Staged signature computation: token hashes → hashed shingles →
    signature as separate projections, so each array is computed once
    per row instead of once per downstream expression. Permutation i
    is the affine mix (a_i·x + b_i) mod 2^31-1 over the shingle hash
    (universal hashing — one md5 per token total).

    The signature build is the map-heavy stage of every MinHash
    consumer, and a single-file corpus scan would serialize it on one
    task — fan out first (identity on many-split cluster scans;
    signatures are per-row, so results are partition-invariant)."""
    from embeddinghub_spark.functions.vector import ensure_parallelism

    df = ensure_parallelism(df)
    staged = df.select(
        F.col(id_col), token_hashes(text_col).alias("_th")
    ).select(
        F.col(id_col), hashed_shingles(F.col("_th"), shingle_n).alias("_sh")
    )

    # ONE fold over the shingle array maintaining all num_hashes
    # running minimums in a struct accumulator, instead of num_hashes
    # separate array_min(transform(...)) passes — same values (pinned
    # by the oracle and an equivalence check), ~20% cheaper, and the
    # whole expression is a single parsed SQL string (py4j economy).
    # LONG_MAX-init safety: hashed_shingles never yields an empty
    # array (docs ≤ n tokens collapse to one whole-doc shingle) and
    # yields NULL — not [null] — for null text (null elements would be
    # skipped by least() and leak the init), so the init can never
    # appear in a signature.
    init = "named_struct(" + ", ".join(
        f"'m{i}', 9223372036854775807L" for i in range(num_hashes)
    ) + ")"
    upd = ", ".join(
        f"'m{i}', least(acc.m{i}, ({a}L * x + {b}L) % {MINHASH_P}L)"
        for i, (a, b) in ((i, _mix_params(i)) for i in range(num_hashes))
    )
    fin = "array(" + ", ".join(f"acc.m{i}" for i in range(num_hashes)) + ")"
    sig = F.expr(
        f"aggregate(_sh, {init}, (acc, x) -> named_struct({upd}), acc -> {fin})"
    )
    cols = [F.col(id_col), sig.alias("_sig")]
    if keep_shingles:
        cols.append(F.col("_sh"))
    return staged.select(*cols)


# -- LSH banding core ---------------------------------------------------------
#
# Every banded family (MinHash, SimHash, pHash, sign-LSH) cuts a
# signature into bands and calls two rows candidates when any band
# matches (MMDS ch. 3). A family supplies only its band expression and
# its verify predicate; the band rows, the banded self-join and the
# bucketed on-disk append below are written once.


def _band_width(n: int, n_bands: int, what: str) -> int:
    """Rows (hashes or bits) per band; raises unless ``n_bands``
    divides ``n`` — trailing rows would otherwise be silently dropped,
    reducing LSH recall."""
    if n % n_bands != 0:
        raise ValueError(
            f"{what}={n} not divisible by bands={n_bands}: the trailing "
            f"{n % n_bands} would be silently dropped, reducing LSH recall"
        )
    return n // n_bands


def _bit_slices(col: str, n_bits: int, n_bands: int, what: str = "bits"):
    """``band_expr`` over a bit-packed signature: band b is bits
    ``[b·w, (b+1)·w)``. Arithmetic shift + mask keeps the low bits
    identical whatever the sign."""
    width = _band_width(n_bits, n_bands, what)
    mask = (1 << width) - 1
    return lambda b: F.shiftright(F.col(col), b * width).bitwiseAND(F.lit(mask))


def _minhash_rolls(num_hashes: int, bands: int):
    """``band_expr`` over a ``_sig`` column: band b's hash is the
    integer mod-P polynomial of its min-hashes (same 64-bit-safe
    arithmetic as the shingles, no md5)."""
    rows = _band_width(num_hashes, bands, "num_hashes")
    return lambda b: F.aggregate(
        F.slice(F.col("_sig"), b * rows + 1, rows),
        F.lit(0).cast("bigint"),
        lambda a, x: (a * MINHASH_ROLL + x) % MINHASH_P,
    )


def _bands(
    df: DataFrame, keep: list, n_bands: int, band_expr, val_col: str = "band_val"
) -> DataFrame:
    """``keep + (band, val_col)``: one row per (row, band), the band
    value ``band_expr(b)`` (``_bit_slices`` or ``_minhash_rolls``,
    which also check that ``n_bands`` divides the signature) — the one
    explode behind every banded family. ``keep`` lists the columns
    (names or Columns) each band row carries."""
    structs = [
        F.struct(F.lit(b).alias("band"), band_expr(b).alias(val_col))
        for b in range(n_bands)
    ]
    rows = df.select(*keep, F.explode(F.array(*structs)).alias("bh"))
    return rows.select(
        *rows.columns[:-1],
        F.col("bh.band").alias("band"),
        F.col(f"bh.{val_col}").alias(val_col),
    )


def _band_pairs(
    banded: DataFrame, id_col: str, val_col: str = "band_val", directed: bool = False
) -> DataFrame:
    """The banded self-join: sides ``a`` and ``b`` of ``banded`` on a
    shared (band, ``val_col``) with ``a.id < b.id`` (``!=`` when
    ``directed``, so both directions survive). A pair matching on
    several bands appears once per band; callers project and
    ``distinct``."""
    a, b = banded.alias("a"), banded.alias("b")
    ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col(f"a.{val_col}") == F.col(f"b.{val_col}"))
        & ((ida != idb) if directed else (ida < idb)),
    )


def _band_bucket(n_buckets: int, val_col: str = "band_hash") -> Column:
    """On-disk bucket of a band row, ``pmod(crc32(key), n_buckets)``.
    The key is part of each index's format and must not change: the
    MinHash index (``band_hash``) hashes the band hash alone, the
    embedding index (``band_val``) the string ``band:band_val``."""
    if val_col == "band_hash":
        key = F.col("band_hash").cast("string")
    else:
        key = F.concat_ws(":", F.col("band"), F.col(val_col))
    return F.pmod(F.crc32(key.cast("binary")), F.lit(n_buckets)).cast("int")


def _bucket_append(
    rows: DataFrame, index_dir: str, n_buckets: int, sidecar: dict, params: dict
) -> str:
    """Append ``rows`` (with a ``bucket`` column) to the on-disk index:
    check (or, on the first append, record) the params sidecar, then
    one bucket-clustering exchange of the batch's own rows into
    parquet partitioned by ``bucket``."""
    _index_params_check(index_dir, params=params, **sidecar)
    (
        rows.repartition(n_buckets, "bucket")
        .write.partitionBy("bucket")
        .mode("append")
        .parquet(index_dir)
    )
    return index_dir


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature are
    candidate near-duplicates. Output: (doc_id, band, band_hash) —
    grouping by (band, band_hash) yields the candidate buckets;
    self-join within bucket yields candidate pairs.

    Scale: the only shuffle key is the band hash; bucket sizes are
    bounded by true near-dup cluster sizes (plus tiny hash-collision
    noise), so no quadratic blowup on the full corpus.
    """
    rolls = _minhash_rolls(num_hashes, bands)
    with_sig = _with_signature(df, text_col, id_col, num_hashes, shingle_n)
    return _bands(with_sig, [F.col(id_col)], bands, rolls, "band_hash")


def _minhash_pairs(cand: DataFrame, id_col: str) -> DataFrame:
    """Distinct ``(id_a < id_b)`` pairs sharing a band hash."""
    return (
        _band_pairs(cand, id_col, "band_hash")
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_duplicate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Distinct candidate pairs (a < b) from banded MinHash.

    The candidate frame is localCheckpoint'd before the self-join:
    Spark does not share work between the two sides of a self-join, so
    without it the whole signature pipeline runs twice."""
    cand = minhash_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n
    ).localCheckpoint(eager=False)
    return _minhash_pairs(cand, id_col)


# -- SimHash ------------------------------------------------------------------
#
# 64-bit fingerprints by default: a 16-bit space (65,536 buckets total)
# self-bucket-joins fine on a demo corpus but degenerates at corpus
# scale — buckets grow with N/65k and the within-bucket pair join goes
# quadratic. With 64 bits, exact-equal fingerprints are genuine
# near-dups, and near-miss probing uses BANDED Hamming search: split
# the 64 bits into B bands; any pair within Hamming distance d < B
# shares at least one exact band (pigeonhole), so candidates come from
# B cheap equi-joins on 16-bit band values — never an all-pairs scan.
#
# Bit source: bits 0-59 from md5 chars 1-15, bits 60-63 from md5 chars
# 17-31 (disjoint hex ranges → independent bits), both portable to any
# md5-bearing oracle engine.

def _md5_long_hi(c: Column) -> Column:
    """Second 60-bit chunk of md5 (hex chars 17..31) → BIGINT."""
    return F.conv(F.substring(F.md5(c), 17, 15), 16, 10).cast("bigint")


def _bit_weight(j: int) -> int:
    """Two's-complement weight of bit j in a signed 64-bit integer
    (bit 63 is the sign bit: adding -2^63 sets it without overflow)."""
    return (1 << j) if j < 63 else -(1 << 63)


def _simhash_acc(h_lo: Column, h_hi: Column, n: Column, bits: int) -> Column:
    """Single-pass bit vote: ONE fold over the token-hash arrays
    accumulating an ``array<int>(bits)`` of per-bit one-counts
    (``zip_with(acc, bit_expand(h), +)``), then one threshold pass over
    the count array. Replaces the previous per-bit ``F.aggregate``
    design (bits separate folds, each scanning the full array →
    O(bits·|tokens|) array traversals per doc — the two slowest bench
    entries of round 2). Same votes, same tie-break (ones·2 ≥ n), so
    fingerprints are bit-identical."""
    pairs = F.zip_with(
        h_lo, h_hi, lambda lo, hi: F.struct(lo.alias("lo"), hi.alias("hi"))
    )

    def bit_expand(s: Column) -> Column:
        return F.array(*[
            F.shiftright(
                s["lo"] if j < 60 else s["hi"], j if j < 60 else j - 60
            ).bitwiseAND(F.lit(1)).cast("int")
            for j in range(bits)
        ])

    counts = F.aggregate(
        pairs,
        F.array_repeat(F.lit(0), bits),
        lambda acc, s: F.zip_with(acc, bit_expand(s), lambda a, b: a + b),
    )
    # majority threshold + two's-complement weights, folded in one pass
    # over the (bits)-slot count array so `counts` is referenced once
    weights = F.array(*[F.lit(_bit_weight(j)).cast("bigint") for j in range(bits)])
    return F.aggregate(
        F.zip_with(
            counts,
            weights,
            lambda c, w: F.when(c * 2 >= n, w).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )


def simhash(col: Column | str, bits: int = 64) -> Column:
    """SimHash fingerprint: bit j is the majority vote of bit j over
    all token hashes. Returns BIGINT (two's complement for bit 63).

    One-off expression form — re-derives the token-hash array per bit;
    use ``simhash_staged`` on DataFrames (bits× cheaper).
    """
    toks = tokens(col)
    h_lo = F.transform(toks, lambda t: _md5_long(t))
    h_hi = F.transform(toks, lambda t: _md5_long_hi(t))
    return _simhash_acc(h_lo, h_hi, F.size(toks), bits)


def simhash_staged(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """Staged SimHash, shaped for codegen and for py4j economy.

    Three deliberate choices, each bench-measured at sf0.1:

    1. **Rows, not array folds.** Token hashes are exploded to rows and
       the bit votes are plain ``groupBy(id).agg(sum …)`` — Spark's
       array higher-order functions (``aggregate``/``zip_with``) are
       CodegenFallback, i.e. interpreted per element, while a hash
       aggregate runs in whole-stage codegen with map-side combine.
       The shuffle is tiny: one row of 66 bigints per document.
    2. **Plain single-bit sums.** One ``sum((h >> j) & 1)`` per bit:
       64 aggregate columns, each bounded by the document's token
       count — no packed-counter overflow at ANY document length
       (an earlier SWAR-packed variant overflowed signed 64-bit past
       ~32k tokens under ANSI mode — exactly the long-document tail
       this path targets; caught in review, and the measured speed
       difference vs packing was nil).
    3. **SQL strings, not Column loops.** Building 64 vote expressions
       via pyspark Column operators costs hundreds of py4j round-trips
       (~1.5 s of pure driver time per query build); generating one SQL
       string and parsing it with ``F.expr`` is a single call.

    Fingerprints are bit-identical to ``simhash()`` (same md5 chunks,
    same ``ones·2 ≥ n`` tie-break; null text → null, empty text → all
    bits set). Assumes ``id_col`` values are unique (one doc per id).

    Like the MinHash signature build, the md5 explode is map-heavy —
    fan a split-deficient scan out first (identity on clusters;
    per-row hashing is partition-invariant).
    """
    from embeddinghub_spark.functions.vector import ensure_parallelism

    df = ensure_parallelism(df)
    if bits != 64:
        # general-width path: correctness over constant-factor tuning
        md5s = df.select(
            F.col(id_col),
            F.transform(tokens(text_col), lambda t: F.md5(t)).alias("_m"),
        )
        staged = md5s.select(
            F.col(id_col),
            F.expr(
                "transform(_m, m -> cast(conv(substring(m, 1, 15), 16, 10)"
                " as bigint))"
            ).alias("_h_lo"),
            F.expr(
                "transform(_m, m -> cast(conv(substring(m, 17, 15), 16, 10)"
                " as bigint))"
            ).alias("_h_hi"),
        )
        acc = _simhash_acc(
            F.col("_h_lo"), F.col("_h_hi"), F.size(F.col("_h_lo")), bits
        )
        return staged.select(F.col(id_col), acc.alias("simhash"))

    from embeddinghub_spark.functions.vector import _bq

    tok = df.select(
        F.col(id_col),
        F.isnull(text_col).alias("_txtnull"),
        F.explode_outer(
            F.expr(
                f"transform(filter(split({_bq(text_col)}, ' '), t -> t != ''),"
                " x -> md5(x))"
            )
        ).alias("_m"),
    ).select(
        id_col,
        "_txtnull",
        F.expr("cast(conv(substring(_m, 1, 15), 16, 10) as bigint)").alias("_lo"),
        F.expr("cast(conv(substring(_m, 17, 15), 16, 10) as bigint)").alias("_hi"),
    )
    aggs = [
        F.expr("count(_lo)").alias("_n"),
        F.expr("max(_txtnull)").alias("_txtnull"),
    ]
    for j in range(64):
        src, b = ("_lo", j) if j < 60 else ("_hi", j - 60)
        aggs.append(
            F.expr(f"sum(shiftright({src}, {b}) & 1)").alias(f"_c{j}")
        )
    g = tok.groupBy(id_col).agg(*aggs)
    votes = " | ".join(
        f"shiftleft(case when (coalesce(_c{j}, 0L) * 2) >= _n"
        f" then 1L else 0L end, {j})"
        for j in range(64)
    )
    return g.select(
        F.col(id_col),
        F.expr(f"case when _txtnull then null else ({votes}) end").alias("simhash"),
    )


def simhash_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """Bucket docs by exact SimHash (near-dup candidates; with 64-bit
    fingerprints an exact match is a strong near-dup signal)."""
    return (
        simhash_staged(df, text_col, id_col, bits)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_docs"))
    )


def simhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    bands: int = 4,
) -> DataFrame:
    """Banded SimHash: (id, band, band_val) — pairs within Hamming
    distance < ``bands`` share ≥1 exact band (pigeonhole), so the
    shuffle key for candidate generation is a (band, 16-bit value)
    pair, never the document."""
    slices = _bit_slices("simhash", bits, bands)
    sh = simhash_staged(df, text_col, id_col, bits)
    return _bands(sh, [F.col(id_col), F.col("simhash")], bands, slices)


def _hamming_pairs(
    banded: DataFrame, id_col: str, hash_col: str, max_hamming: int
) -> DataFrame:
    """Distinct ``(id_a < id_b, hamming)`` pairs of a banded bit
    fingerprint, verified by exact ``bit_count(a XOR b) <= max_hamming``
    — the SimHash and pHash near-pair join."""
    return (
        _band_pairs(banded, id_col)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.expr(f"bit_count(a.{hash_col} ^ b.{hash_col})").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by banded Hamming probing: candidates from any
    shared band, verified with exact ``bit_count(a XOR b) <= d``.
    Complete for d < bands; larger d trades recall for the same cost
    (raise ``bands`` to keep the guarantee).

    BAND-SATURATION THRESHOLD (the loud limit, VERDICT r9 #6): each
    band key is ``bits/bands`` bits — 16 at the 64/4 default, i.e.
    65,536 buckets per band. Buckets saturate once N ≫ c·2^(bits/bands)
    and the banded self-join goes quadratic: at the default, treat
    **N ≈ 10⁷ documents as the ceiling** (expected bucket ≈ 150 there;
    Σ bucket² ≈ N²/65536 past it). Beyond that raise ``bits`` to 128
    (wider fingerprint → 32-bit band keys) or pre-partition the
    corpus by a first-pass exact hash so each partition stays under
    the ceiling. Unlike sign-LSH there is no free plane knob at fixed
    ``bits``: more bands shrink the band key and saturate SOONER, so
    the d < bands completeness bound and the saturation ceiling pull
    in opposite directions — size ``bits`` first, then bands.
    """
    # checkpoint before the self-join: the 64 bit-vote expressions are
    # expensive and would otherwise evaluate twice (no cross-side CSE)
    banded = simhash_bands(df, text_col, id_col, bits, bands).localCheckpoint(
        eager=False
    )
    return _hamming_pairs(banded, id_col, "simhash", max_hamming)


# -- n-gram Jaccard -----------------------------------------------------------

def jaccard_similarity(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| over shingle arrays (deduped)."""
    ai, bi = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(ai, bi)).cast("double")
    union = F.size(F.array_union(ai, bi)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Verified near-dup pairs: MinHash candidates filtered by exact
    n-gram Jaccard ≥ threshold. The expensive exact measure runs ONLY
    on candidate pairs (bucket-scoped), never all-pairs. Jaccard is
    computed over hashed shingle sets (set semantics preserved up to
    2^-31 hash collisions; integer intersect/union beats string-array
    set ops by the same margin as the signature path)."""
    pairs = minhash_duplicate_pairs(df, text_col, id_col, num_hashes, bands, shingle_n)
    # tiny (id + shingles); read twice by the pair join. localCheckpoint
    # (lazy) materializes on first action and is GC-cleaned with the
    # plan — no unpersist contract leaks onto the caller.
    sh = df.select(
        F.col(id_col), token_hashes(text_col).alias("_th")
    ).select(
        F.col(id_col), hashed_shingles(F.col("_th"), shingle_n).alias("_sh")
    ).localCheckpoint(eager=False)
    return (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("_sh", "_sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("_sh", "_sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard_similarity(F.col("_sh_a"), F.col("_sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )




def containment_similarity(a: Column, b: Column) -> Column:
    """|A∩B| / min(|A|, |B|) over shingle arrays (deduped) — the
    asymmetric-overlap measure: 1.0 when the smaller document's
    shingle set is fully embedded in the larger one, regardless of
    how much extra content the larger side carries. Jaccard on the
    same pair can be arbitrarily small (quote-inclusion /
    boilerplate-wrapper cases), which is why corpus curation checks
    both."""
    ai, bi = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(ai, bi)).cast("double")
    smaller = F.least(F.size(ai), F.size(bi)).cast("double")
    return F.when(smaller > 0, inter / smaller).otherwise(F.lit(0.0))


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Verified containment pairs: MinHash candidates filtered by
    exact shingle-set containment ≥ threshold — catches a document
    embedded inside another (partial copies) that symmetric Jaccard
    under-scores. Same scale shape as ``ngram_jaccard_pairs``: the
    exact measure runs ONLY inside candidate buckets, never
    all-pairs. (MinHash banding under-recalls extreme size-skew
    pairs — a tweet inside a book rarely shares a band; that tail
    needs the passage-level index, ``dedup_passages`` /
    ``minhash_index_probe``, which this op complements.)"""
    pairs = minhash_duplicate_pairs(df, text_col, id_col, num_hashes, bands, shingle_n)
    sh = df.select(
        F.col(id_col), token_hashes(text_col).alias("_th")
    ).select(
        F.col(id_col), hashed_shingles(F.col("_th"), shingle_n).alias("_sh")
    ).localCheckpoint(eager=False)
    return (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("_sh", "_sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("_sh", "_sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                containment_similarity(F.col("_sh_a"), F.col("_sh_b")), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# -- transitive dedup clusters ------------------------------------------------

def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    stats: dict | None = None,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list → one row per
    node ``(node, component)`` where component = min node id in the
    component (the cluster's keeper id).

    Alternating LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) in pure DataFrames:

      - large-star: every node hangs its LARGER neighbors off the
        minimum of its neighborhood — flattens long chains by powers
        of two (the doubling step min-label propagation lacks);
      - small-star: every node and its smaller neighbors re-hang off
        the neighborhood minimum — contracts the remaining fan-in.

    The edge set monotonically contracts toward a star forest (edge
    (v, c): component member → component min). O(log² n) rounds worst
    case, ~log₂ n observed on path graphs where plain min-label alone
    needs O(n). Each half-round is ONE groupBy-join shuffle on node
    id; per-round ``localCheckpoint`` truncates lineage (the classic
    iterative-DataFrame trap).

    Convergence is detected from (count, xxhash64-checksum) of the
    checkpointed edge set — an O(|E|) agg on cached partitions, no
    join against the previous round and no extra pass (fixes the
    per-round ``limit(1).count()`` driver round-trip of the previous
    design). ``stats``, if given, receives {"rounds": r}.

    NOTE (ADVICE r16): the input edge set localCheckpoints (storage
    ∝ |edges| per call, freed when the returned frame is GC'd; blocks
    are unreplicated — on a cluster prefer a checkpoint dir for
    fault-tolerant lineage truncation at very long jobs). Batch-only:
    streaming edge frames must come through foreachBatch.
    """
    # materialize the caller's edge pipeline ONCE (r16, the pagerank
    # treatment): the node set, the deduped edge set and the driver-
    # gate probe below each consume ``edges`` — an expensive upstream
    # (banded-MinHash pair verification, a kNN-graph build) used to
    # re-execute per reference. fuzzy_clusters' outer checkpoint
    # (measured 7.1 → 5.2 s) becomes a harmless extra layer.
    edges = edges.localCheckpoint(eager=False)
    raw = edges.select(
        F.greatest(F.col(src), F.col(dst)).alias("u"),
        F.least(F.col(src), F.col(dst)).alias("v"),
    )
    # node set from the UNFILTERED input: a node appearing only in a
    # self-loop is a singleton, not absent (caught by property test)
    nodes = (
        raw.select(F.col("u").alias("node"))
        .unionByName(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    if driver_max_edges:
        # Size-gated driver path (r16, the pagerank broadcast_nodes
        # discipline): an edge set that fits in driver memory resolves
        # in ONE union-find pass instead of ~log2(n) star rounds, each
        # of which costs two grouped shuffles, a distinct, a
        # checkpoint, and a fingerprint action. ``limit(N+1)`` bounds
        # the transfer — if more rows come back the graph is big and
        # the distributed rounds below run exactly as before. Labels
        # are identical (component = min id; UTF-8 byte order equals
        # code-point order, so Python's min matches Spark's for string
        # ids too) — pinned by the brute-force property test on BOTH
        # paths. 1M edges is ~16 MB of id pairs through Arrow; at
        # corpus scale the candidate graph blows past the gate and
        # never touches the driver.
        head = e.limit(driver_max_edges + 1).toPandas()
        if len(head) <= driver_max_edges:
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:
                    parent[x], x = root, parent[x]
                return root

            us, vs = head["u"].tolist(), head["v"].tolist()
            for u_, v_ in zip(us, vs):
                ru, rv = find(u_), find(v_)
                if ru != rv:
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru  # min id stays the root label
            if stats is not None:
                stats["rounds"] = 0
            universe = set(us)
            universe.update(vs)
            schema = T.StructType(
                [
                    T.StructField("node", e.schema["u"].dataType),
                    T.StructField("component", e.schema["u"].dataType),
                ]
            )
            labels = edges.sparkSession.createDataFrame(
                [(x, find(x)) for x in universe], schema
            )
            centers = nodes.join(
                labels.select("node"), "node", "left_anti"
            ).select("node", F.col("node").alias("component"))
            return labels.unionByName(centers)

    def large_star(edges_uv: DataFrame) -> DataFrame:
        sym = edges_uv.unionByName(
            edges_uv.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # NO distinct here: small_star's min-aggregate is duplicate-
        # insensitive and the round ends in ONE distinct after
        # small_star — deduping twice per round paid an extra |E|
        # shuffle for nothing. Intermediate duplication is bounded by
        # |sym| = 2|E| (each sym row yields ≤ 1 output). The (u > v)
        # invariant small_star needs still holds: v_out = m ≤ u < u_out.
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))  # hang LARGER neighbors off m
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(edges_uv: DataFrame) -> DataFrame:
        # edges are (u > v); every u re-hangs itself and its smaller
        # neighbors off the minimum
        m = edges_uv.groupBy("u").agg(F.min("v").alias("m"))
        hung = (
            edges_uv.join(m, "u")
            .filter(F.col("v") != F.col("m"))
            .select(
                F.greatest(F.col("v"), F.col("m")).alias("u"),
                F.least(F.col("v"), F.col("m")).alias("v"),
            )
        )
        self_edges = m.select(F.col("u"), F.col("m").alias("v"))
        return hung.unionByName(self_edges).distinct()

    def fingerprint(edges_uv: DataFrame):
        # bit_xor: order-insensitive, overflow-free (edges are distinct
        # so xor-cancellation of duplicates cannot occur)
        row = edges_uv.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        return row["n"], row["h"]

    prev = None
    rounds = 0
    converged = False
    for _ in range(max_iter):
        e = small_star(large_star(e)).localCheckpoint(eager=False)
        rounds += 1
        cur = fingerprint(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        # a non-star edge set would emit MULTIPLE rows per node below —
        # a structurally invalid result is worse than an error
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({rounds} run); raise max_iter — alternating star rounds "
            f"need ~log2(n), so this graph is far beyond the configured bound"
        )

    # converged star forest: (u, v) = (member, component min)
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    centers = nodes.join(
        labels.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return labels.unionByName(centers)


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    banded-MinHash candidate pairs. Output: one row per document
    ``(doc_id, cluster_id)``; cluster_id = min doc id in the cluster
    (singletons map to themselves). Downstream corpus dedup keeps
    ``doc_id == cluster_id`` rows."""
    pairs = minhash_duplicate_pairs(df, text_col, id_col, num_hashes, bands, shingle_n)
    comp = connected_components(pairs)
    return df.select(F.col(id_col)).join(
        comp.select(F.col("node").alias(id_col), F.col("component").alias("cluster_id")),
        id_col,
        "left",
    ).select(
        id_col, F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id")
    )


# -- embedding near-dup -------------------------------------------------------

def emb_auto_planes(
    n_rows: int,
    bands: int = 2,
    target_bucket_size: int = 10_000,
    min_bits: int = 8,
    max_bits: int = 24,
) -> int:
    """Sign-LSH plane-count sizing rule (VERDICT r9 #4 — the
    ``semantic_auto_k`` treatment): bits-per-band =
    ceil(log₂(N / target_bucket_size)), so each band's expected bucket
    population stays ≈ ``target_bucket_size`` and the banded self-join
    stays linear-ish (Σ bucket² ∝ N·c) instead of quadratic
    (fixed planes ⇒ bucket ∝ N ⇒ Σ bucket² ∝ N²). N=10⁹ at 2 bands →
    17 bits/band → 34 planes — SCALING.md's worked example.

    ``min_bits=8`` floors the result at the long-certified 16/2
    operating point (fewer planes only ADD candidate work, never
    correctness risk — pairs are exact-cosine verified — but there is
    no reason to go coarser). ``max_bits=24`` caps bands·bits ≤ 48,
    comfortably inside the 63-bit signed-long bucket word."""
    n = int(n_rows)
    if n < 0:
        raise ValueError("n_rows must be >= 0")
    b = int(bands)
    if b <= 0:
        raise ValueError("bands must be > 0")
    t = int(target_bucket_size)
    if t <= 0:
        raise ValueError("target_bucket_size must be > 0")
    need = max(1, -(-n // t))  # ceil(n / target)
    bits = (need - 1).bit_length()  # ceil(log2(need)); 0 for need=1
    bits = min(max(bits, int(min_bits)), int(max_bits))
    return b * bits


def embedding_near_duplicates(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    bands: int = 2,
    seed: int = 7,
    bucket_warning_threshold: int | None = 100_000,
) -> DataFrame:
    """Cosine near-dup pairs via BANDED sign-projection LSH: the
    ``n_planes`` sign bits split into ``bands`` bands; a pair is a
    candidate if it matches on ANY band, then verified with exact
    cosine ≥ threshold.

    Scale shape: planes-per-band bounds bucket sizes (16 planes / 2
    bands = 256-way split per band of a corpus-sized table — each
    band-equi self-join stays near-linear), while multiple bands keep
    recall (a near-dup pair only needs one agreeing band, the MinHash
    banding argument). A single coarse bucket space (the old 8-plane
    default) had the opposite behavior: 256 buckets TOTAL → quadratic
    within-bucket joins at 100 TB.

    Plane sizing (VERDICT r9 #4): ``n_planes=None`` (the default)
    auto-sizes from one cheap ``df.count()`` via ``emb_auto_planes``
    — N/10⁴ buckets per band, floored at the certified 16-plane
    operating point, so small-corpus results are bit-identical to the
    old fixed default. Cost contract: the auto path is an EAGER count
    job at DataFrame-construction time; pass ``n_planes`` explicitly
    to skip it (the on-disk index ops always do — their planes are
    frozen in the params sidecar). With EXPLICIT planes the same
    count instead powers an outgrown-planes RuntimeWarning when the
    expected band-bucket population N/2^(n_planes/bands) exceeds
    ``bucket_warning_threshold`` (the ``sparse_cosine_pairs`` df-probe
    discipline); pass ``bucket_warning_threshold=None`` to skip every
    construction-time job on a corpus you know is bounded.
    """
    if n_planes is None:
        n_planes = emb_auto_planes(df.count(), bands)
    elif bucket_warning_threshold is not None:
        import warnings

        n = df.count()
        expected = n / float(1 << (n_planes // max(bands, 1)))
        if expected > int(bucket_warning_threshold):
            warnings.warn(
                f"embedding_near_duplicates: ~{int(expected)} vectors "
                f"per band bucket at n_planes={n_planes}, bands={bands} "
                f"for N={n} (> {int(bucket_warning_threshold)}) — the "
                f"banded self-join emits O(bucket²) candidate pairs per "
                f"bucket. Size planes to the corpus "
                f"(n_planes ≈ bands·log₂(N/10⁴): here "
                f"{emb_auto_planes(n, bands)}), or pass "
                f"bucket_warning_threshold=None to skip this probe.",
                RuntimeWarning,
                stacklevel=2,
            )
    # 16 plane dot-products + norm per vector — checkpoint so the
    # self-join doesn't evaluate them twice
    banded = _emb_band_rows(
        df, dim, id_col, vec_col, n_planes, bands, seed
    ).localCheckpoint(eager=False)
    return _emb_band_pairs(banded, dim, id_col, vec_col).filter(
        F.col("cosine") >= threshold
    )


def _emb_band_pairs(
    banded: DataFrame, dim: int, id_col: str, vec_col: str, directed: bool = False
) -> DataFrame:
    """Distinct candidate pairs ``(id_a, id_b, cosine)`` over
    ``_emb_band_rows`` output: a shared (band, band_val) makes a
    candidate, scored by exact cosine rounded to 6 (callers apply
    their threshold or rank). The one pair join behind
    ``embedding_near_duplicates``, ``vector.knn_join`` (directed) and
    the within-batch step of embedding dedup-on-ingest."""
    from embeddinghub_spark.functions.vector import dot

    return (
        _band_pairs(banded, id_col, directed=directed)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                # qualified names unroll too (dim-known codegen path);
                # the norms come precomputed per row (_norm), which
                # keeps the join's generated method under janino's
                # 64 KB limit
                dot(f"a.{vec_col}", f"b.{vec_col}", dim)
                / (F.col("a._norm") * F.col("b._norm")),
                6,
            ).alias("cosine"),
        )
        .distinct()
    )


# -- on-disk index params sidecar --------------------------------------------


def _index_params_check(
    index_dir: str,
    filename: str,
    params: dict,
    what: str,
    record: bool = True,
) -> None:
    """Validate (or, on first append, record) an on-disk index's
    integer hashing parameters in the JSON sidecar
    ``index_dir/filename``. Bucket ids and hashes are only comparable
    when the parameters match the values used at append time — a
    mismatched probe would silently return mostly-empty candidates,
    so mismatch is an error, not a wrong answer; ``what`` names the
    family's values that would not line up. A probe
    (``record=False``) of a legacy sidecar-less index skips both
    record and validation. The sidecar is read and written through
    ``ann_index._index_fs`` — the filesystem Spark writes the index
    to, so a ``file://`` URI lands it next to the index, not under a
    ``file:`` directory in the working directory. It is written to a
    temp file in the same directory and moved into place, so an
    interrupted append never leaves a truncated sidecar behind."""
    import json
    import uuid

    import pyarrow.fs as pafs

    from embeddinghub_spark.functions.ann_index import _index_fs

    params = {k: int(v) for k, v in params.items()}
    fs, root = _index_fs(index_dir)
    path = f"{root}/{filename}"
    if fs.get_file_info(path).type == pafs.FileType.File:
        with fs.open_input_stream(path) as f:
            stored = json.loads(f.read())
        if stored != params:
            raise ValueError(
                f"{what} would not line up: the index at {index_dir!r} "
                f"was built with {stored}; got {params}. Rebuild the "
                "index or pass the original parameters."
            )
    elif record:
        fs.create_dir(root, recursive=True)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        try:
            with fs.open_output_stream(tmp) as f:
                f.write(json.dumps(params).encode())
            fs.move(tmp, path)
        finally:
            if fs.get_file_info(tmp).type != pafs.FileType.NotFound:
                fs.delete_file(tmp)


# -- incremental embedding near-dup index (banded sign-LSH on disk) -----------

_EMB_INDEX_SIDECAR = {
    "filename": "_emb_lsh_params.json",
    "what": "embedding LSH index's band values",
}


def _emb_band_rows(
    df: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    n_planes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """``(id, vec, band, band_val, _norm)`` band rows — the one
    sign-LSH banding recipe (planes, seed, band split) behind
    ``embedding_near_duplicates``, ``semantic_contamination``,
    ``vector.knn_join`` and the on-disk index, so none of them can
    disagree on a bucket. The norm is computed here, not per
    candidate pair."""
    from embeddinghub_spark.functions.vector import ensure_parallelism, norm

    slices = _bit_slices("lsh_bucket", n_planes, bands, "n_planes")
    b = with_lsh_bucket(ensure_parallelism(df), vec_col, dim, n_planes, seed)
    return _bands(b, [F.col(id_col), F.col(vec_col)], bands, slices).withColumn(
        "_norm", norm(vec_col, dim)
    )


def _emb_index_rows(df, dim, id_col, vec_col, n_planes, bands, seed, n_buckets):
    """``_emb_band_rows`` plus the on-disk ``bucket``: the embedding
    index's row layout, as appended and as probed."""
    return _emb_band_rows(
        df, dim, id_col, vec_col, n_planes, bands, seed
    ).withColumn("bucket", _band_bucket(n_buckets, "band_val"))


def _emb_index_params(dim, n_planes, bands, seed, n_buckets) -> dict:
    return dict(
        dim=dim, n_planes=n_planes, bands=bands, seed=seed, n_buckets=n_buckets
    )


def emb_index_append(
    spark,
    index_dir: str,
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 2,
    seed: int = 7,
    n_buckets: int = 16,
) -> str:
    """Append a batch's banded sign-LSH rows (WITH vectors and
    precomputed norms — the probe's exact-cosine verify needs them)
    to the on-disk index, parquet partitioned by ``bucket``. Map-only
    up to the single bucket-clustering exchange of the batch's own
    rows (bytes ∝ |batch| × bands × dim, never the corpus). First
    append records a params sidecar; mismatched later calls raise.

    The embedding twin of ``minhash_index_append`` — the ingest-side
    half of the near-dup stack for a crawl that dedups on VECTOR
    similarity rather than text shingles."""
    return _bucket_append(
        _emb_index_rows(df, dim, id_col, vec_col, n_planes, bands, seed, n_buckets),
        index_dir,
        n_buckets,
        _EMB_INDEX_SIDECAR,
        _emb_index_params(dim, n_planes, bands, seed, n_buckets),
    )


def emb_index_probe(
    spark,
    index_dir: str,
    new_vecs: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 2,
    seed: int = 7,
    n_buckets: int = 16,
) -> DataFrame:
    """Probe new vectors against the on-disk LSH index: candidates
    come ONLY from shared (band, band_val) buckets, verified with
    EXACT cosine ≥ threshold against the vectors stored in the index
    — the corpus embedding table is never re-read.

    Plan shape (VERDICT r9 — vectors must never ride a broadcast):
    candidate generation joins the index against only the probe's
    NARROW key rows ``(probe_id, band, band_val, bucket)`` with no
    forced hint — AQE broadcasts them while they fit (a probe row is
    ~3 ints, so even a 10M-vector day's crawl is broadcastable, and
    the broadcast enables dynamic partition pruning of unprobed index
    buckets) and falls back to a shuffle join on the bucketed key
    beyond that. The index side's stored vector + norm ride the SCAN
    side of that join (never shuffled under the broadcast plan), and
    the probe batch's vectors are re-attached BY probe_id only
    AFTER candidate generation — that verify join is candidate-
    bounded on one side and AQE-size-gated on the other, so the
    full-vector payload never transits the driver however large the
    batch. (The old shape broadcast the probe WITH vectors:
    |batch| × bands × dim floats through the driver.)

    Output: ``(probe_id, index_id, cosine)`` distinct pairs."""
    rows = _emb_index_rows(
        new_vecs, dim, id_col, vec_col, n_planes, bands, seed, n_buckets
    )
    return _emb_index_probe_rows(
        spark, index_dir, rows, dim, threshold, id_col, vec_col,
        _emb_index_params(dim, n_planes, bands, seed, n_buckets),
    )


def _emb_index_probe_rows(
    spark, index_dir, rows, dim, threshold, id_col, vec_col, params
) -> DataFrame:
    """``emb_index_probe`` over prebuilt ``_emb_index_rows`` — one
    (ideally checkpointed) frame serves the probe keys AND the verify
    side's vectors: the band-0 row exists for every vector and carries
    its norm."""
    from embeddinghub_spark.functions.vector import dot

    _index_params_check(index_dir, params=params, record=False, **_EMB_INDEX_SIDECAR)
    # The index layout is fixed by emb_index_append, and the id/vector
    # types must match the probe's own (the params sidecar pins the
    # band space; a type-mismatched probe failed at the join before
    # and still does). Passing the schema explicitly skips per-probe
    # footer-based inference over the index's accumulated small files
    # — ~100 ms of driver time per probe call on a 50-file index
    # (measured r16); the scan itself is unchanged.
    idx_schema = T.StructType(
        [
            T.StructField(id_col, rows.schema[id_col].dataType),
            T.StructField(vec_col, rows.schema[vec_col].dataType),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_val", T.IntegerType()),
            T.StructField("_norm", T.DoubleType()),
            T.StructField("bucket", T.IntegerType()),
        ]
    )
    idx = spark.read.schema(idx_schema).parquet(index_dir).select(
        F.col(id_col).alias("index_id"),
        F.col(vec_col).alias("_ivec"),
        F.col("_norm").alias("_inorm"),
        "band",
        "band_val",
        "bucket",
    )
    probe_keys = rows.select(
        F.col(id_col).alias("probe_id"), "band", "band_val", "bucket"
    )
    probe_vecs = rows.filter(F.col("band") == 0).select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("_pvec"),
        F.col("_norm").alias("_pnorm"),
    )
    candidates = (
        idx.join(probe_keys, ["bucket", "band", "band_val"])
        .filter(F.col("index_id") != F.col("probe_id"))
        .select("probe_id", "index_id", "_ivec", "_inorm")
    )
    return (
        candidates.join(probe_vecs, "probe_id")
        .select(
            "probe_id",
            "index_id",
            F.round(
                dot("_pvec", "_ivec", dim)
                / (F.col("_pnorm") * F.col("_inorm")),
                6,
            ).alias("cosine"),
        )
        .distinct()
        .filter(F.col("cosine") >= threshold)
    )


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end corpus dedup: keep exactly one document (the min id)
    per transitive near-duplicate cluster — the composition a training
    -data pipeline actually runs (candidates → verified pairs →
    clusters → keep set). Exact duplicates collapse for free (identical
    text ⇒ identical signature ⇒ same cluster). Returns the KEPT rows
    of ``df`` (left-semi join: document payloads never shuffle)."""
    clusters = dedup_clusters(df, text_col, id_col, num_hashes, bands, shingle_n)
    keep = clusters.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return df.join(keep, id_col, "left_semi")


# -- passage-level exact dedup ------------------------------------------------

def dedup_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passage_tokens: int = 16,
) -> DataFrame:
    """Passage-level exact dedup (the C4/RefinedWeb line-dedup recipe
    adapted to fixed word windows, since the corpus protocol has no
    newlines): every document is cut into consecutive non-overlapping
    ``passage_tokens``-word passages; a passage occurring verbatim
    anywhere else in the corpus survives only at its FIRST occurrence
    (lowest (doc_id, passage index)); each document is rebuilt from
    its surviving passages in order. Subsumes neither exact dedup
    (whole-doc) nor MinHash (similarity): this removes boilerplate
    repeated *inside otherwise-distinct* documents.

    Output: (doc_id, clean_text, n_passages, n_kept). A document
    whose every passage is owned elsewhere comes back with
    n_kept = 0 and clean_text = '' (kept in the frame so callers can
    count or drop); empty/null docs emit no row.

    Scale shape — 3 bounded shuffles, raw text never wider than one
    passage on the wire:

    1. passages: map-only tokenize → ``sequence`` starts →
       ``posexplode`` → ``slice``.
    2. first-occurrence winners: groupBy(md5(passage)) →
       ``min(struct(doc_id, idx))`` — hash aggregate with map-side
       partials; the exchange carries one row per DISTINCT passage
       hash (16-byte key), never the text.
    3. ownership: passages joined back to winners on the hash (AQE
       picks broadcast vs shuffle), kept = "I am the winner".
    4. rebuild: groupBy(doc_id) collecting (idx, passage) structs of
       the kept passages only, ``array_sort`` + join — one row per
       document out.
    """
    toks = tokens(text_col)
    passages = (
        df.select(F.col(id_col), toks.alias("_t"))
        .filter(F.size("_t") > 0)
        .select(
            F.col(id_col),
            F.col("_t"),
            F.posexplode(
                F.sequence(F.lit(1), F.size("_t"), F.lit(passage_tokens))
            ).alias("idx", "_start"),
        )
        .select(
            F.col(id_col),
            F.col("idx"),
            F.array_join(
                F.slice(F.col("_t"), F.col("_start"), passage_tokens), " "
            ).alias("passage"),
        )
        .withColumn("fp", F.md5(F.col("passage")))
    )
    winners = passages.groupBy("fp").agg(
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col("idx").alias("i"))
        ).alias("w")
    )
    flagged = passages.join(winners, "fp").withColumn(
        "kept",
        (F.col(id_col) == F.col("w.d")) & (F.col("idx") == F.col("w.i")),
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("kept"),
                            F.struct(F.col("idx"), F.col("passage")),
                        )
                    )
                ),
                lambda s: s["passage"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_passages"),
        F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
    )


# -- incremental MinHash band index -------------------------------------------
#
# Production dedup is INCREMENTAL: new crawl batches arrive daily and
# must be checked against the already-ingested corpus without
# recomputing (or even reading) the corpus text. The band index IS
# the dedup state: (doc_id, band, band_hash) rows on disk, hash-
# partitioned by band_hash bucket so a probe prunes to the buckets
# its own band hashes live in. Append = one map-only job over the
# new batch; probe = broadcast the batch's band rows against the
# pruned index scan. The corpus text is never touched again.


_MINHASH_SIDECAR = {
    "filename": "_minhash_params.json",
    "what": "minhash index's band hashes/buckets",
}


def _minhash_index_rows(df, text_col, id_col, num_hashes, bands, shingle_n, n_buckets):
    """``minhash_candidates`` plus the on-disk ``bucket``: the MinHash
    index's row layout, as appended and as probed."""
    return minhash_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n
    ).withColumn("bucket", _band_bucket(n_buckets))


def _minhash_index_params(num_hashes, bands, shingle_n, n_buckets) -> dict:
    return dict(
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n, n_buckets=n_buckets
    )


def minhash_index_append(
    spark,
    index_dir: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    n_buckets: int = 16,
) -> str:
    """Compute the batch's band rows and append them to the on-disk
    index (parquet partitioned by ``bucket``). Map-only up to the
    single bucket-clustering exchange of the batch's own rows
    (bytes ∝ |batch| × bands, never the corpus). First append writes
    a params sidecar; later appends/probes with different parameters
    raise instead of silently mis-bucketing."""
    return _bucket_append(
        _minhash_index_rows(
            df, text_col, id_col, num_hashes, bands, shingle_n, n_buckets
        ),
        index_dir,
        n_buckets,
        _MINHASH_SIDECAR,
        _minhash_index_params(num_hashes, bands, shingle_n, n_buckets),
    )


def minhash_index_probe(
    spark,
    index_dir: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    n_buckets: int = 16,
) -> DataFrame:
    """Candidate near-duplicate pairs (probe_id, index_id) between a
    new batch and the stored index — the corpus text is NOT read.

    Scale shape: the probe batch's band rows join the index on
    (bucket, band, band_hash) with NO forced broadcast hint (VERDICT
    r9 — the ``gram_index_probe_spans`` discipline): AQE broadcasts
    the probe side while its measured size fits the threshold (a
    day's crawl vs the corpus — also enabling dynamic partition
    pruning of every index bucket the probe doesn't hash into) and
    falls back to a shuffle join on the bucketed key for probe
    batches too large to broadcast, where an unconditional
    ``F.broadcast`` would push gigabytes through the driver instead.
    Self-matches (re-probing an already-indexed id) are dropped.
    Raises if the parameters differ from the ones recorded at append
    time."""
    rows = _minhash_index_rows(
        new_docs, text_col, id_col, num_hashes, bands, shingle_n, n_buckets
    )
    return _minhash_index_probe_rows(
        spark, index_dir, rows, id_col,
        _minhash_index_params(num_hashes, bands, shingle_n, n_buckets),
    )


def _minhash_index_probe_rows(spark, index_dir, rows, id_col, params) -> DataFrame:
    """``minhash_index_probe`` over prebuilt ``_minhash_index_rows``."""
    _index_params_check(index_dir, params=params, record=False, **_MINHASH_SIDECAR)
    idx = spark.read.parquet(index_dir).select(
        F.col(id_col).alias("index_id"),
        "band",
        "band_hash",
        "bucket",
    )
    probe = rows.select(F.col(id_col).alias("probe_id"), "band", "band_hash", "bucket")
    return (
        idx.join(probe, ["bucket", "band", "band_hash"])
        .filter(F.col("index_id") != F.col("probe_id"))
        .select("probe_id", "index_id")
        .distinct()
    )


def semantic_auto_k(n_rows: int, target_cell_size: int = 8192) -> int:
    """SemDeDup cluster-count sizing rule: K = ceil(N / target_cell_size),
    i.e. K ∝ N at a fixed expected cell population — the paper's regime
    (Abbas et al. 2023 use 50k clusters for LAION-440M ≈ 8.8k
    vectors/cell). Within-cell pair generation is quadratic in cell
    size, so a FIXED K makes the op quadratic in corpus size (measured
    ×14.5 at ×10 data with K=8 in the r8 sf1 scan); K ∝ N keeps it
    linear (×1.7 at ×10 with the scaled twin)."""
    n = int(n_rows)
    if n < 0:
        raise ValueError("n_rows must be >= 0")
    t = int(target_cell_size)
    if t <= 0:
        raise ValueError("target_cell_size must be > 0")
    return max(1, -(-n // t))


def semantic_dedup(
    df: DataFrame,
    dim: int,
    n_clusters: int | None = None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_cells: list | None = None,
    target_cell_size: int = 8192,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space into clusters
    with a coarse quantizer, then drop every vector that has a
    LOWER-ID near-duplicate (cosine >= threshold) in its own cluster.
    Keep rule: x survives iff no y < x in cell(x) with
    cos(x, y) >= threshold — the deterministic greedy form of "keep
    one representative per epsilon-neighborhood" (the paper keeps a
    random one; lowest-id is replayable).

    Quantizer: ``centroid_cells`` (a ``[(cell_id, vector), ...]``
    list, e.g. from ``vector.kmeans_centroids``) or, by default, the
    first ``n_clusters`` vectors by id — deterministic and
    oracle-replayable, the same convention as the PQ codebook init
    (`vector.pq_codebooks`). When ``n_clusters`` is not given it is
    AUTO-SIZED from a cheap corpus count via ``semantic_auto_k``
    (K = ceil(N / target_cell_size)) — the paper's K ∝ N recipe made
    the default, so an unparameterized call stays linear at any
    corpus size instead of silently going quadratic on a fixed K
    (VERDICT r8: K=8 measured ×14.5 at ×10 data). Assignment reuses
    ``vector.assign_ivf_cells``: centroids fold into the plan as
    literals, so assignment is MAP-ONLY (zero joins/exchanges for the
    corpus scan).

    Scale shape: the only corpus-wide exchange is the cell-equi
    self-join. Within-cell pair generation is quadratic in cell size,
    so n_clusters must scale with the corpus (the paper uses 50k
    clusters for LAION-440M; keep N/n_clusters ~ 10^4-10^5). For
    skew-resistant pair pruning inside huge cells, compose with
    ``embedding_near_duplicates``'s banded LSH *within* each cell.

    Output: one row per input vector — ``(vec_id, cell, kept)``.

    Reference parity note: the reference has no semantic dedup; this
    extends its embedding plane (embeddinghub `index.cc` stores raw
    vectors only) with the curation op a training-data pipeline runs
    before indexing.
    """
    from embeddinghub_spark.functions.vector import (
        assign_ivf_cells,
        dot,
        ensure_parallelism,
        norm,
    )

    spark = df.sparkSession
    if centroid_cells is None:
        if n_clusters is None:
            # one cheap count (column-pruned metadata scan on parquet)
            # buys the K ∝ N guarantee for the default call
            n_clusters = semantic_auto_k(df.count(), target_cell_size)
        first = (
            df.select(id_col, vec_col).orderBy(id_col).limit(n_clusters).collect()
        )
        centroid_cells = [(i + 1, list(r[1])) for i, r in enumerate(first)]
    cent_df = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroid_cells],
        "cell int, centroid array<double>",
    )
    assigned = (
        assign_ivf_cells(
            ensure_parallelism(df), cent_df, id_col=id_col, vec_col=vec_col,
            dim=dim, cells=centroid_cells,
        )
        # norm once per row, not per pair (embedding_near_duplicates
        # pattern); checkpoint so the self-join reads it, not the plan
        .withColumn("_norm", norm(vec_col, dim))
        .localCheckpoint(eager=False)
    )
    x, y = assigned.alias("x"), assigned.alias("y")
    dominated = (
        x.join(
            y,
            (F.col("x.cell") == F.col("y.cell"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .filter(
            F.round(
                dot(f"x.{vec_col}", f"y.{vec_col}", dim)
                / (F.col("x._norm") * F.col("y._norm")),
                6,
            )
            >= threshold
        )
        .select(F.col(f"y.{id_col}").alias("_dropped"))
        .distinct()
    )
    return (
        assigned.join(
            dominated, F.col(id_col) == F.col("_dropped"), "left"
        )
        .select(
            F.col(id_col),
            F.col("cell"),
            F.col("_dropped").isNull().alias("kept"),
        )
    )


# -- maximal duplicated-span detection ----------------------------------------

def _gram_fingerprints(
    base: DataFrame, id_col: str, gram_n: int
) -> DataFrame:
    """Sliding-gram md5 fingerprints over a tokenized frame
    ``(id, _t array<string>)`` → ``(id, start, fp)``; map-only, the
    token array is projected away in the same stage so text never
    outlives the 16-byte hash. Shared by ``duplicate_spans`` /
    ``remove_duplicate_spans`` (one definition of gram = one place a
    delimiter/hash change can land)."""
    return (
        base.filter(F.size("_t") >= gram_n)
        .select(
            F.col(id_col),
            F.col("_t"),
            F.explode(
                F.sequence(F.lit(1), F.size("_t") - gram_n + 1)
            ).alias("start"),
        )
        .select(
            F.col(id_col),
            F.col("start"),
            F.md5(F.array_join(F.slice("_t", F.col("start"), gram_n), " ")).alias(
                "fp"
            ),
        )
        .localCheckpoint(eager=False)
    )


def _span_islands(hits: DataFrame, id_col: str, gram_n: int) -> DataFrame:
    """Merge per-document gram-start hits ``(id, start)`` into MAXIMAL
    spans: gram at ``start`` covers tokens [start, start+gram_n-1];
    hits whose coverage overlaps or touches merge into one island
    (classic gaps-and-islands: break when start exceeds the running
    max end + 1). Per-document window — state bounded by one doc's
    hits. Shared by ``duplicate_spans`` and the incremental
    ``gram_index_probe_spans``. Output: (id, span_start, span_end)."""
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hits.select(
            F.col(id_col),
            F.col("start"),
            (F.col("start") + gram_n - 1).alias("fin"),
        )
        .withColumn(
            "brk",
            F.when(
                F.col("start")
                > F.coalesce(F.max("fin").over(w_prev), F.lit(-1)) + 1,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("brk").over(w_run))
        .groupBy(id_col, "island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("fin").alias("span_end"),
        )
        .drop("island")
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 8,
) -> DataFrame:
    """Substring-level duplicate detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): find, per document, the MAXIMAL token spans
    whose every length-``gram_n`` window occurs at least twice in the
    corpus (including self-repetition). Unlike ``dedup_passages``
    (fixed non-overlapping windows), spans are detected at ANY token
    offset: sliding ``gram_n``-grams are fingerprinted, duplicated
    gram starts are merged into maximal islands, so a 40-token copied
    paragraph reports as ONE span regardless of alignment. The paper
    builds a corpus suffix array; the Spark-native equivalent is the
    overlapping-gram fingerprint join — same detected spans for spans
    >= gram_n, no global suffix sort.

    Output: one row per document with >= ``gram_n`` tokens —
    (doc_id, total_tokens, n_dup_spans, dup_tokens, dup_fraction),
    dup_fraction rounded to 6 decimals for cross-engine replay.
    Callers trimming rather than scoring can take the span frame from
    the island step instead; the aggregate is the curation-pipeline
    signal (drop/penalize docs above a duplicated-fraction budget).

    Scale shape — text never travels wider than one gram, and grams
    are dropped for their 16-byte md5 before any exchange:

    1. gram fingerprints: map-only tokenize -> explode gram starts ->
       md5(slice) -> (doc_id, start, fp). The _t array is projected
       away in the same stage.
    2. duplicated fingerprints: groupBy(fp) count — hash aggregate
       with map-side partials; exchange carries one row per DISTINCT
       fingerprint. HAVING count >= 2 prunes to the (rare)
       duplicated grams BEFORE the join back.
    3. ownership join on fp: AQE broadcasts the duplicated-fp side
       while it is small (boilerplate is sparse), shuffle-join
       otherwise.
    4. island merge: per-document window (partitionBy doc) — state
       bounded by one document's gram count, no corpus-wide sort.

    The gram frame is localCheckpoint'd: it feeds both the count
    aggregate and the ownership join (standing self-join decision —
    Spark has no cross-side CSE, an uncheckpointed plan would
    tokenize and hash the corpus twice).
    """
    base = _tokenized_base(df, text_col, id_col, gram_n)
    grams = _gram_fingerprints(base, id_col, gram_n)
    dup_fps = grams.groupBy("fp").count().filter(F.col("count") >= 2).select("fp")
    dup = grams.join(dup_fps, "fp").select(F.col(id_col), F.col("start"))
    spans = _span_islands(dup, id_col, gram_n)
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_tokens"),
    )
    return (
        base.select(F.col(id_col), F.size("_t").cast("bigint").alias("total_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("total_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("total_tokens"), 6
            ).alias("dup_fraction"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 8,
) -> DataFrame:
    """The removal half of the Lee et al. substring-dedup recipe
    (arXiv:2107.06499 keeps ONE occurrence of each duplicated span
    and deletes the rest): a token is DROPPED iff it is covered by at
    least one duplicated ``gram_n``-gram occurrence that is not the
    corpus-wide first occurrence of its fingerprint (first = lowest
    (doc_id, start)); surviving tokens are rejoined in order. For
    disjoint duplicated regions the first copy survives verbatim and
    later copies lose exactly the covered region. Where duplicated
    regions OVERLAP — including a region repeating inside one
    document ('a a a a' at gram_n=2) — ownership is per-GRAM, so an
    owner occurrence can still lose tokens covered by a neighboring
    non-owner gram; that is the deterministic resolution of an
    inherently ambiguous trim, pinned by the oracle. Composes with
    ``duplicate_spans`` (detection/scoring) the way
    ``dedup_corpus`` composes with ``dedup_clusters``.

    Output: (doc_id, clean_text, total_tokens, kept_tokens) for every
    document with >= 1 token; docs shorter than ``gram_n`` tokens
    have no grams, hence nothing to drop.

    Scale shape — the same bounded skeleton as ``duplicate_spans``
    (text drops to md5s before any exchange; HAVING count>=2 prunes
    before the join back) plus:

    5. coverage explode: only NON-OWNER duplicated gram occurrences
       (rare, boilerplate-bounded) explode into their <= gram_n
       covered positions — one (doc, position) row each, deduped by
       the drop-set aggregate.
    6. rebuild: tokens posexploded once, left-anti joined against the
       drop set on (doc, position), re-assembled with the
       array_sort(collect(struct)) pattern of ``dedup_passages``.
    """
    from embeddinghub_spark.functions.vector import ensure_parallelism

    toks = tokens(text_col)
    base = (
        ensure_parallelism(df)
        .select(F.col(id_col), toks.alias("_t"))
        .filter(F.size("_t") >= 1)
        .localCheckpoint(eager=False)
    )
    grams = _gram_fingerprints(base, id_col, gram_n)
    # duplicated fingerprints with their first-occurrence owner
    owners = (
        grams.groupBy("fp")
        .agg(
            F.count("*").alias("c"),
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("start").alias("s"))
            ).alias("w"),
        )
        .filter(F.col("c") >= 2)
        .select("fp", "w")
    )
    dropped_pos = (
        grams.join(owners, "fp")
        .filter(
            (F.col(id_col) != F.col("w.d")) | (F.col("start") != F.col("w.s"))
        )
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("start"), F.col("start") + gram_n - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    positions = base.select(
        F.col(id_col), F.posexplode("_t").alias("pos0", "tok")
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "tok")
    kept = positions.join(dropped_pos, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("bigint").alias("kept_tokens"),
    )
    # a doc whose every token was a later copy comes back EMPTY, not
    # missing (dedup_passages convention)
    return (
        base.select(
            F.col(id_col), F.size("_t").cast("bigint").alias("total_tokens")
        )
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "total_tokens",
            F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias(
                "kept_tokens"
            ),
        )
    )


# -- incremental on-disk gram index (substring grain) -------------------------

_GRAM_SIDECAR = {
    "filename": "_gram_params.json",
    "what": "gram index's fingerprints/buckets",
}


def _tokenized_base(df: DataFrame, text_col: str, id_col: str, gram_n: int):
    from embeddinghub_spark.functions.vector import ensure_parallelism

    return (
        ensure_parallelism(df)
        .select(F.col(id_col), tokens(text_col).alias("_t"))
        .filter(F.size("_t") >= gram_n)
        .localCheckpoint(eager=False)
    )


def gram_index_append(
    spark,
    index_dir: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 8,
    n_buckets: int = 16,
) -> str:
    """Append a batch's sliding-gram fingerprints to the on-disk
    substring index (parquet partitioned by bucket) — the
    ``minhash_index_append`` recipe at GRAM grain, backing
    incremental substring dedup: later crawl batches are checked for
    copied SPANS against the whole standing corpus without re-reading
    its text. Map-only up to the single bucket-clustering exchange of
    the batch's own gram rows."""
    rows = _gram_fingerprints(
        _tokenized_base(df, text_col, id_col, gram_n), id_col, gram_n
    ).withColumn("bucket", _md5_long(F.col("fp")) % n_buckets)
    return _bucket_append(
        rows, index_dir, n_buckets, _GRAM_SIDECAR,
        dict(gram_n=gram_n, n_buckets=n_buckets),
    )


def gram_index_probe_spans(
    spark,
    index_dir: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 8,
    n_buckets: int = 16,
) -> DataFrame:
    """Maximal copied spans of a NEW batch against the stored gram
    index: the probe joins the index on (bucket, fp); matching probe
    gram starts then merge into maximal islands (the
    ``duplicate_spans`` window) per probe document.

    Join sizing: the probe side is ONE ROW PER PROBE TOKEN (unlike
    the MinHash probe's ~bands rows per doc), so it is NOT
    force-broadcast — AQE broadcasts it while it fits (a small crawl
    batch, which also enables dynamic partition pruning of the
    unprobed index buckets) and falls back to a shuffle join on
    (bucket, fp) for probe batches too large to broadcast, where the
    bucket partitioning still bounds the join.

    Self-matches (re-probing an indexed id) are dropped. Output:
    ``(doc_id, span_start, span_end, span_tokens)`` — one row per
    maximal span of the probe document that exists verbatim
    somewhere in the indexed corpus.
    """
    _index_params_check(
        index_dir,
        params=dict(gram_n=gram_n, n_buckets=n_buckets),
        record=False,
        **_GRAM_SIDECAR,
    )
    idx = spark.read.parquet(index_dir).select(
        F.col(id_col).alias("_index_id"), "fp", "bucket"
    )
    probe = (
        _gram_fingerprints(
            _tokenized_base(new_docs, text_col, id_col, gram_n), id_col, gram_n
        )
        .withColumn("bucket", _md5_long(F.col("fp")) % n_buckets)
        .select(F.col(id_col), F.col("start"), "fp", "bucket")
    )
    hits = (
        idx.join(probe, ["bucket", "fp"])
        .filter(F.col("_index_id") != F.col(id_col))
        .select(F.col(id_col), F.col("start"))
        .distinct()
    )
    return _span_islands(hits, id_col, gram_n).withColumn(
        "span_tokens", F.col("span_end") - F.col("span_start") + 1
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 4,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    2003, the MOSS algorithm): slide a ``window`` over the document's
    ``gram_n``-gram hashes and select each window's MINIMUM hash
    (rightmost on ties — the original tie rule, which maximizes
    fingerprint sharing between copies). Guarantees: any shared
    substring of at least ``window + gram_n - 1`` tokens yields at
    least one SHARED selected fingerprint, while only ~2/(window+1)
    of all grams are selected — the principled sampling that makes
    copy detection pay sub-linear bytes where the full-gram join
    (``duplicate_spans``) pays every gram.

    All selection happens MAP-ONLY inside the token array (higher-
    order functions over an index sequence: gram hashes once, then a
    left-fold min per window with <= so ties keep the later gram);
    only the selected (id, start, fp) rows ever leave the row.
    Hashes are the repo md5→60-bit-bigint protocol, so the exact
    fingerprint set replays in any md5-bearing engine. Documents
    shorter than ``window + gram_n - 1`` tokens (fewer grams than the
    window) contribute their single overall-min gram — every doc with
    >= gram_n tokens gets at least one fingerprint.

    Output: ``(id, start, fp)`` — distinct selected gram positions
    (adjacent windows mostly re-select the same gram; the distinct is
    per document, inside the aggregate that follows in
    ``winnow_pairs``).
    """
    if gram_n < 1 or window < 1:
        raise ValueError("gram_n and window must be >= 1")
    base = _tokenized_base(df, text_col, id_col, gram_n)
    gh = F.expr(
        f"transform(sequence(1, size(_t) - {gram_n} + 1), s -> "
        f"struct(s AS start, CAST(conv(substr(md5("
        f"array_join(slice(_t, s, {gram_n}), ' ')), 1, 15), 16, 10) "
        f"AS BIGINT) AS h))"
    )
    sel = F.expr(
        f"transform(sequence(1, greatest(1, size(_gh) - {window} + 1)), i -> "
        f"aggregate(slice(_gh, i, {window}), "
        f"struct(CAST(-1 AS INT) AS start, "
        f"CAST(9223372036854775807 AS BIGINT) AS h), "
        f"(acc, x) -> CASE WHEN x.h <= acc.h THEN x ELSE acc END))"
    )
    return (
        base.select(F.col(id_col), gh.alias("_gh"))
        .select(F.col(id_col), F.explode(sel).alias("_s"))
        .select(
            F.col(id_col),
            F.col("_s.start").alias("start"),
            F.col("_s.h").alias("fp"),
        )
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Copy-candidate pairs from shared winnowing fingerprints: two
    documents pair iff they share at least ``min_shared`` selected
    fingerprints — the MOSS plagiarism-detection join, here as the
    cheap substring-copy candidate generator (confirm with
    ``duplicate_spans``/``containment_pairs`` on the survivors).

    Scale shape: the join runs on the WINNOWED set (~2/(window+1) of
    grams), equi-keyed on the fingerprint, so work is Σ_fp df² over a
    sampled, pruned universe. ``max_df`` drops fingerprints shared by
    more than that many documents (ubiquitous boilerplate — the
    ``sparse_cosine_pairs`` stop-feature lever; dropped fps only
    remove pairs every document would make).

    Output: ``(id_a, id_b, shared_fps)``, id_a < id_b.
    """
    fps = (
        winnow_fingerprints(df, text_col, id_col, gram_n, window)
        .select(F.col(id_col), "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    if max_df is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("fp")
        )
        fps = fps.join(keep, "fp")
    a = fps.select("fp", F.col(id_col).alias("id_a"))
    b = fps.select("fp", F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def dedup_keep_best(
    df: DataFrame,
    quality_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Keep the BEST document per transitive near-dup cluster —
    highest ``quality_col``, ties to the smallest id — instead of
    ``dedup_corpus``'s keep-first policy. This is what production
    dedup actually wants: when a crawl holds five copies of a page,
    keep the longest/cleanest one, not the one that happened to get
    the lowest id (arXiv:2107.06499 §4 keeps the longest member for
    exactly this reason).

    Output: one row per cluster —
    ``(cluster_id, keep_id, quality, n_docs)``.

    Scale shape: clustering is the standing banded-MinHash +
    large-star/small-star CC machinery (ids only after banding); the
    winner pick is ONE map-side-combining ``max(struct(quality,
    -id))`` aggregate over the (doc, cluster) frame — never a
    per-cluster sort, whale-cluster immune like materialize's latest.
    """
    clusters = dedup_clusters(
        df, text_col, id_col, num_hashes, bands, shingle_n
    )
    joined = clusters.join(
        df.select(F.col(id_col), F.col(quality_col).alias("_q")), id_col
    )
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("_q").alias("q"), (-F.col(id_col)).alias("ni")
                )
            ).alias("_w"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            "cluster_id",
            (-F.col("_w.ni")).alias("keep_id"),
            F.col("_w.q").alias("quality"),
            "n_docs",
        )
    )


def semantic_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 2,
    seed: int = 7,
) -> DataFrame:
    """Cross-corpus SEMANTIC contamination: flag every eval/benchmark
    document whose embedding has a near-duplicate (cosine >=
    threshold) in the TRAINING corpus — the paraphrase-robust
    companion to ``text.ngram_contamination`` (which only catches
    verbatim n-gram overlap; a reworded test question sails through
    n-grams but not embedding space).

    Scale shape is ``embedding_near_duplicates``'s banded sign-LSH,
    but as a train x eval CROSS-corpus band-equi join instead of a
    self-join: both sides hash with the SAME planes (so near vectors
    collide), candidates match on ANY band, and exact cosine
    verifies. The train side is corpus-sized, the eval side is
    benchmark-sized (thousands) — the band join keys keep the
    candidate set near-linear in |train| and AQE broadcasts the small
    side. Verified matches aggregate per eval id with a max-struct
    (cosine, train id) — deterministic argmax, whale-immune.

    Output: one row per EVAL document —
    ``(eval_id, contaminated, train_id, cosine)`` with the best
    (highest-cosine) training match where contaminated, NULLs
    otherwise. Recall is the banding guarantee (a pair needs only one
    agreeing band); the pytest pins LSH-vs-brute-force on a seeded
    corpus.
    """
    from embeddinghub_spark.functions.vector import dot

    def prep(df: DataFrame, side: str) -> DataFrame:
        return _emb_band_rows(
            df, dim, id_col, vec_col, n_planes, bands, seed
        ).select(
            F.col(id_col).alias(f"{side}_id"),
            F.col(vec_col).alias(f"{side}_vec"),
            F.col("_norm").alias(f"{side}_norm"),
            "band",
            "band_val",
        )

    t = prep(train, "t")
    e = prep(eval_df, "e")
    cos = F.round(
        dot("t_vec", "e_vec", dim) / (F.col("t_norm") * F.col("e_norm")), 6
    )
    hits = (
        t.join(e, ["band", "band_val"])
        .select("t_id", "e_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        # a pair matching several bands must count once
        .groupBy("e_id", "t_id")
        .agg(F.max("cosine").alias("cosine"))
        .groupBy("e_id")
        .agg(F.max(F.struct("cosine", "t_id")).alias("_best"))
    )
    return (
        eval_df.select(F.col(id_col).alias("eval_id"))
        .join(hits, F.col("eval_id") == F.col("e_id"), "left")
        .select(
            "eval_id",
            F.col("e_id").isNotNull().alias("contaminated"),
            F.col("_best.t_id").alias("train_id"),
            F.col("_best.cosine").alias("cosine"),
        )
    )


def banding_candidate_probability(s: float, bands: int, rows: int) -> float:
    """P(two docs with true Jaccard ``s`` share ≥ 1 band) under the
    standard MinHash-LSH model: ``1 − (1 − s^rows)^bands`` (Mining of
    Massive Datasets §3.4). The S-curve every banding choice trades
    along — steep near ``(1/bands)^(1/rows)``."""
    if not 0.0 <= s <= 1.0:
        raise ValueError("s must be in [0, 1]")
    return 1.0 - (1.0 - s**rows) ** bands


def minhash_tune(
    threshold: float,
    num_hashes: int,
    fn_below: float = 0.05,
    fp_above: float = 0.05,
) -> dict:
    """Pick ``(bands, rows)`` for a target Jaccard ``threshold`` —
    the knob-setting step BEFORE ``minhash_candidates`` runs on 100 TB
    (re-sharding a mis-banded signature table is a full corpus pass;
    choosing right costs microseconds on the driver).

    Scans every factorization ``bands·rows == num_hashes`` and picks
    the one whose S-curve midpoint ``(1/bands)^(1/rows)`` is closest
    to ``threshold``, breaking ties toward MORE bands (recall —
    missing a true duplicate is usually costlier than verifying a
    false candidate, and candidates are exact-verified downstream
    anyway). Returns the choice plus its honest error profile:
    ``p_at_threshold`` (candidate recall AT the target similarity),
    ``fn_rate_at`` = miss probability at ``threshold + fn_below``
    (just-above-target pairs the banding drops — the silent loss),
    and ``fp_rate_at`` = candidate probability at ``threshold −
    fp_above`` (just-below-target pairs it forwards — the verify
    cost). If no factorization puts the midpoint within 0.15 of the
    target, raise ``num_hashes`` — the dict's ``midpoint`` says how
    far off the best choice is."""
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    best = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        mid = (1.0 / bands) ** (1.0 / rows)
        key = (abs(mid - threshold), -bands)
        if best is None or key < best[0]:
            best = (key, bands, rows, mid)
    _, bands, rows, mid = best
    hi = min(1.0, threshold + fn_below)
    lo = max(0.0, threshold - fp_above)
    return {
        "bands": bands,
        "rows": rows,
        "midpoint": round(mid, 6),
        "p_at_threshold": round(
            banding_candidate_probability(threshold, bands, rows), 6
        ),
        "fn_rate_at": round(
            1.0 - banding_candidate_probability(hi, bands, rows), 6
        ),
        "fp_rate_at": round(
            banding_candidate_probability(lo, bands, rows), 6
        ),
    }


def minhash_estimate_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MEASURED calibration of the MinHash Jaccard estimator on the
    corpus's own banded candidate pairs — the dedup-stack analogue of
    ``ann_recall``: ``minhash_tune`` predicts the S-curve from theory;
    this measures how far the ``matching_slots/num_hashes`` estimate
    actually sits from the exact shingle Jaccard on real candidates,
    the number a threshold-tuning loop checks before committing a
    corpus-wide dedup pass at a new (num_hashes, bands) setting.

    Output: one row per distinct matching-slot count among candidate
    pairs (≤ num_hashes+1 rows) with ``est_jaccard`` (the estimator's
    value at that slot count), ``n_pairs``, ``mean_abs_err`` and
    ``max_abs_err`` vs exact Jaccard — both carried as exact
    1e9-scaled bigint sums until the final 6-dp presentation divide
    (the metrics.py round-then-sum discipline, aggregation-order
    independent and oracle-replayable).

    Scale shape: ONE corpus pass builds the checkpointed signature+
    shingle frame (``_with_signature(keep_shingles=True)``) — the
    candidate generation, pair join, and exact verify all read that
    frame, so the tokenize/md5 pipeline never re-runs (unlike chaining
    ``minhash_duplicate_pairs`` + a fresh shingle build, which would
    scan the corpus twice). Candidates come from the banded equi-join
    (work ∝ Σ bucket², bounded by true dup-family sizes); the exact
    measure runs ONLY on candidates; the final aggregate is
    (num_hashes+1)-row bounded.
    """
    rolls = _minhash_rolls(num_hashes, bands)
    base = _with_signature(
        df, text_col, id_col, num_hashes, shingle_n, keep_shingles=True
    ).localCheckpoint(eager=False)
    pairs = _minhash_pairs(
        _bands(base, [F.col(id_col)], bands, rolls, "band_hash"), id_col
    )
    sa = base.select(
        F.col(id_col).alias("id_a"),
        F.col("_sig").alias("_sig_a"),
        F.col("_sh").alias("_sh_a"),
    )
    sb = base.select(
        F.col(id_col).alias("id_b"),
        F.col("_sig").alias("_sig_b"),
        F.col("_sh").alias("_sh_b"),
    )
    slots = F.aggregate(
        F.zip_with(
            F.col("_sig_a"),
            F.col("_sig_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    jac = jaccard_similarity(F.col("_sh_a"), F.col("_sh_b"))
    err9 = F.round(
        F.round(
            F.abs(
                F.col("matching_slots") / F.lit(float(num_hashes)) - jac
            ),
            9,
        )
        * F.lit(1e9),
        0,
    ).cast("bigint")
    scored = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("matching_slots", slots)
        .select("matching_slots", err9.alias("_e9"))
    )
    # e9 → e6 presentation: round the /1000 to an integer, then the
    # /1e6 divide is exact — the decayed-counter oracle discipline
    # (no cross-engine round-at-6dp tie risk).
    def _e6(col: Column) -> Column:
        return (
            F.round(col.cast("double") / F.lit(1000.0), 0).cast("bigint")
            / F.lit(1e6)
        )

    return (
        scored.groupBy("matching_slots")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("_e9").alias("_se9"),
            F.max("_e9").alias("_me9"),
        )
        .select(
            F.col("matching_slots").cast("int").alias("matching_slots"),
            _e6(
                F.round(
                    F.col("matching_slots")
                    * F.lit(1e9)
                    / F.lit(float(num_hashes)),
                    0,
                )
            ).alias("est_jaccard"),
            "n_pairs",
            _e6(
                F.round(
                    F.col("_se9").cast("double") / F.col("n_pairs"), 0
                )
            ).alias("mean_abs_err"),
            _e6(F.col("_me9").cast("double")).alias("max_abs_err"),
        )
    )
