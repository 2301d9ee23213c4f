"""Text-analysis operators for LLM training-data pipelines (beyond the
reference's surface — BASELINE.json north star: "add the
LLM-data-pipeline operators (... text analysis)").

All pure JVM expressions (split/regexp/aggregate) — no Python UDFs —
so they stay inside whole-stage codegen and scale linearly. Tokenizer
is a pinned single-space split so results are reproducible in any
ANSI-SQL oracle engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from embeddinghub_spark.functions.vector import ensure_parallelism

# Pinned analysis vocabulary (deterministic, oracle-replayable).
STOPWORDS = (
    "the a an and or of to in is are was for on with as by at from".split()
)

# Tiny marker-word tables for language ID — heuristic n-gram/lexicon
# approach; extend per-language as needed.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (single-space split, empty-safe)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda t: t != "")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Sliding word n-grams joined by space; docs shorter than n words
    yield their full token string as the single shingle.

    The token array is BOUND ONCE as a lambda variable (the singleton
    ``transform(array(toks), t -> ...)`` wrapper) before the per-index
    shingle transform references it. Referencing the raw ``tokens()``
    expression from inside the index lambda re-evaluated the whole
    split+filter per shingle position — O(k²) string work per doc,
    measured 17.4 s → 2.6 s for the sf1 shingle explode (r17). Output
    is expression-identical; only the evaluation count changes."""
    toks = tokens(col)

    def build(t: Column) -> Column:
        k = F.size(t)
        joined = F.array_join(t, " ")
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(k - F.lit(n), F.lit(0))),
            lambda i: F.array_join(F.slice(t, i + 1, n), " "),
        )
        return F.when(k > n, grams).otherwise(F.array(joined))

    return F.element_at(F.transform(F.array(toks), build), 1)


def _word_set_pattern(words: list[str]) -> str:
    """Regex matching exactly the positions where a single-space-split
    token equals one of ``words`` (case-insensitive): boundaries are a
    space or the string edge — NOT \\b, which would also match inside
    'the,' where the tokenizer would not. Lets token-membership counts
    run as one codegen ``regexp_count`` instead of an interpreted
    array-HOF filter; exact count parity with
    ``filter(tokens, t -> array_contains(words, lower(t)))`` is pinned
    by test and by the oracle (which keeps the list_filter form)."""
    alts = "|".join(words)
    return f"(?i)(?:^|(?<= ))(?:{alts})(?:(?= )|$)"


def token_count(col: Column | str) -> Column:
    """Count of non-empty single-space-split tokens — as a codegen
    ``regexp_count`` of non-space runs (≡ size(tokens(c)))."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit("[^ ]+"))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def stopword_count(col: Column | str, stopwords: list[str] | None = None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(_word_set_pattern(stopwords or STOPWORDS)))


def punct_count(col: Column | str) -> Column:
    """Count of non-alphanumeric, non-space characters."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.regexp_replace(c, r"[^A-Za-z0-9 ]", ""))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: penalize tiny docs, heavy
    punctuation, and stopword-free (keyword-stuffed) text.

    score = min(1, tokens/64) * (1 - punct_ratio) * min(1, 4*stop_ratio)
    — each factor expressible identically in ANSI SQL.
    """
    n_tok = token_count(col).cast("double")
    n_char = char_count(col).cast("double")
    n_punct = punct_count(col).cast("double")
    n_stop = stopword_count(col).cast("double")
    len_factor = F.least(F.lit(1.0), n_tok / F.lit(64.0))
    punct_ratio = F.when(n_char > 0, n_punct / n_char).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    stop_factor = F.least(F.lit(1.0), F.lit(4.0) * stop_ratio)
    return len_factor * (F.lit(1.0) - punct_ratio) * stop_factor


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts (lexicon heuristic lang-ID)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        lang: F.regexp_count(c, F.lit(_word_set_pattern(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def detect_language(col: Column | str, default: str = "und") -> Column:
    """argmax over lang_scores with deterministic (alphabetical) ties;
    'und' (undetermined) when no marker hits at all."""
    scores = lang_scores(col)
    pairs = [
        F.struct(score.alias("score"), F.lit(lang).alias("lang"))
        for lang, score in sorted(scores.items())
    ]
    # array_max on (score, lang) structs: max score, then max lang —
    # pin alphabetical-FIRST tie order by negating via sort: use
    # reverse-alphabetical names? Simpler: compare (score, reversed rank).
    ranked = [
        F.struct(
            scores[lang].alias("score"),
            F.lit(-i).alias("pref"),  # earlier alphabetical wins ties
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(sorted(scores))
    ]
    best = F.array_max(F.array(*ranked))
    return F.when(best.getField("score") > 0, best.getField("lang")).otherwise(
        F.lit(default)
    )


# GPT-2-style pre-tokenizer shape, pinned to ASCII classes so the
# pattern means the same thing in Java regex (Spark) and RE2 (DuckDB):
# letter runs, digit runs, and single non-alphanumeric marks.
BPE_SPLIT_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_unit_count(col: Column | str) -> Column:
    """BPE-ish subword unit count: matches of the pre-tokenizer
    pattern — the standard cheap token-budget estimator for LLM
    pipelines (a real BPE merge table is model-specific; the
    pre-tokenization split is the engine-side part)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_SPLIT_PATTERN))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (lowercase,
    whitespace collapsed, punctuation stripped) — canonical-form
    dedup key, identical in any md5-bearing SQL engine."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), r"[^a-z0-9 ]", ""), r" +", " ")
    )
    return F.md5(normalized)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-token chunks with overlap — the
    standard pre-training/RAG document chunking step.

    Chunk i covers tokens ``[i·stride, i·stride + chunk_tokens)`` with
    ``stride = chunk_tokens − overlap``; start positions run while
    ``start ≤ max(n_tokens − overlap, 1)``, which guarantees full
    coverage of the tail without ever emitting a chunk whose tokens
    are all contained in the previous one. Docs with no tokens emit
    zero chunks (explode of an empty start list).

    Map-only: tokenize → ``sequence`` of starts → ``posexplode`` →
    ``slice``/``array_join`` — no join, no shuffle, embarrassingly
    parallel over documents. slice/array_join/sequence are ordinary
    codegen expressions (not lambda HOFs).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.col("_toks")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(toks) - F.lit(overlap), F.lit(1)),
        F.lit(stride),
    )
    return (
        df.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .filter(F.size(toks) > 0)
        .select(F.col(id_col), toks, F.posexplode(starts).alias("chunk_id", "_start"))
        .select(
            F.col(id_col),
            F.col("chunk_id"),
            F.array_join(
                F.slice(toks, F.col("_start"), chunk_tokens), " "
            ).alias("chunk_text"),
            F.size(F.slice(toks, F.col("_start"), chunk_tokens)).alias(
                "chunk_n_tokens"
            ),
        )
    )


# PII patterns pinned to ASCII classes + quantifiers only, so Java
# regex (Spark) and RE2 (DuckDB/oracle) agree byte-for-byte. Applied
# longest-context first (emails before bare hosts, URLs before IPs
# inside them is irrelevant since replacement order is fixed).
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("url", r"https?://[^ ]+"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"),
    ("phone", r"\+?[0-9][0-9()\-]{7,}[0-9]"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub emails/URLs/IPv4s/phone-shaped runs from a text column,
    emitting the redacted text plus per-category match counts (the
    counts run on the ORIGINAL text, before any replacement could
    shadow a later pattern). Pure codegen regexp expressions — linear
    over the corpus. The regex engine is the per-row cost, so a
    split-deficit scan (one small parquet file) would serialize the
    whole corpus on one task: ``ensure_parallelism`` fans it out
    (identity on any scan with >= cores splits, so no shuffle is
    added at scale — r17, the op read 10x slower than row-linear at
    sf1 purely from the 1-split input).
    """
    from embeddinghub_spark.functions.vector import ensure_parallelism

    df = ensure_parallelism(df)
    redacted = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
        )
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return df.select(
        F.col(id_col), redacted.alias("redacted_text"), *counts
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Word-repetition quality signals (the Gopher/RefinedWeb filter
    family, word-level): per doc — token count, distinct-token ratio,
    and the frequency fraction of the most repeated token. Highly
    repetitive machine-generated text scores low distinct_ratio /
    high top_token_frac and gets filtered before training.

    Plan: explode → (doc, token) counts (map-side partial aggregation
    collapses repeats in-task) → per-doc aggregate. Both exchanges
    carry distinct pairs / docs, never raw tokens.
    """
    words = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    tf = words.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    return tf.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.round(F.count("*") / F.sum("tf"), 6).alias("distinct_ratio"),
        F.round(F.max("tf") / F.sum("tf"), 6).alias("top_token_frac"),
    )


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-(document, term) TF-IDF: ``tf · (ln((N+1)/(df+1)) + 1)``
    (smoothed idf, sklearn's formula) — corpus relevance scoring for
    training-data selection/weighting.

    Plan shape: explode → per-(doc, term) count (partial aggregation
    collapses repeated terms inside each map task, so the exchange
    carries distinct pairs, not tokens) → document-frequency aggregate
    over the pair set (already word-partitioned work) → join back on
    term. The doc-frequency side is vocabulary-sized; the join is left
    to Catalyst/AQE, which broadcasts it while it fits and falls back
    to a word-partitioned shuffle join when a 100 TB vocabulary does
    not — forcing ``broadcast()`` here would be an OOM at scale.

    N (corpus size) is a bounded scalar computed up front, like the
    watermark scalars elsewhere. Scores are rounded to 6 decimals so
    libm ``ln`` ulp differences can't leak across engines.
    """
    n_docs = df.count()
    words = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("word"))
    tf = words.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs) + 1.0)) / (F.col("df").cast("double") + F.lit(1.0))
    ) + F.lit(1.0)
    return tf.join(dfreq, "word").select(
        F.col(id_col),
        F.col("word"),
        F.col("tf"),
        F.col("df"),
        F.round(F.col("tf").cast("double") * idf, 6).alias("tf_idf"),
    )


# Gopher/RefinedWeb-style quality-filter rule set (word-level — the
# line-level rules need multi-line docs; the corpus tokenizer contract
# here is the pinned single-space split). Thresholds are the operator's
# parameters; these defaults follow the published Gopher ranges scaled
# to short synthetic docs.
QUALITY_RULES = {
    "min_tokens": 20,
    "max_tokens": 100_000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "max_symbol_ratio": 0.2,
    "min_stopword_frac": 0.01,
    "max_top_token_frac": 0.2,
    "min_distinct_ratio": 0.3,
}


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rules: dict | None = None,
) -> DataFrame:
    """Composite document quality filter (the Gopher rule family):
    per doc — the measured signals, a ``keep`` verdict, and a
    comma-joined ``fail_reasons`` string naming every violated rule.

    Signals split into two cost classes, computed in two branches and
    joined on the doc key:

    - map-only codegen regexp/length expressions (token count, mean
      word length, symbol ratio, stopword fraction) — no shuffle;
    - repetition signals (distinct-token ratio, top-token fraction)
      via explode → (doc, token) count → per-doc aggregate, the same
      partial-aggregation-friendly shape as ``repetition_stats`` —
      both exchanges carry distinct pairs/docs, never raw tokens.

    The join is keyed on the doc id (both sides already aggregated to
    one row per doc); a doc with zero tokens has no repetition rows —
    left join + defaults keep it (it already fails ``min_tokens``).
    Ratios rounded to 6 decimals for cross-engine replay.
    """
    r = {**QUALITY_RULES, **(rules or {})}
    n_tok = token_count(text_col).cast("double")
    n_char_ns = F.length(F.regexp_replace(F.col(text_col), " ", "")).cast("double")
    n_punct = punct_count(text_col).cast("double")
    n_stop = stopword_count(text_col).cast("double")
    base = df.select(
        F.col(id_col),
        n_tok.cast("bigint").alias("n_tokens"),
        F.round(
            F.when(n_tok > 0, n_char_ns / n_tok).otherwise(F.lit(0.0)), 6
        ).alias("mean_word_len"),
        F.round(
            F.when(n_char_ns > 0, n_punct / n_char_ns).otherwise(F.lit(0.0)), 6
        ).alias("symbol_ratio"),
        F.round(
            F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0)), 6
        ).alias("stopword_frac"),
    )
    rep = repetition_stats(df, text_col, id_col).select(
        F.col(id_col), "distinct_ratio", "top_token_frac"
    )
    joined = base.join(rep, id_col, "left").select(
        id_col,
        "n_tokens",
        "mean_word_len",
        "symbol_ratio",
        "stopword_frac",
        F.coalesce(F.col("distinct_ratio"), F.lit(1.0)).alias("distinct_ratio"),
        F.coalesce(F.col("top_token_frac"), F.lit(0.0)).alias("top_token_frac"),
    )
    checks = [
        ("too_short", F.col("n_tokens") < r["min_tokens"]),
        ("too_long", F.col("n_tokens") > r["max_tokens"]),
        (
            "word_len",
            (F.col("mean_word_len") < r["min_mean_word_len"])
            | (F.col("mean_word_len") > r["max_mean_word_len"]),
        ),
        ("symbols", F.col("symbol_ratio") > r["max_symbol_ratio"]),
        ("stopwords", F.col("stopword_frac") < r["min_stopword_frac"]),
        ("repetition", F.col("top_token_frac") > r["max_top_token_frac"]),
        ("low_diversity", F.col("distinct_ratio") < r["min_distinct_ratio"]),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in checks]
    )
    keep = ~checks[0][1]
    for _, cond in checks[1:]:
        keep = keep & ~cond
    return joined.select(
        id_col,
        "n_tokens",
        "mean_word_len",
        "symbol_ratio",
        "stopword_frac",
        "distinct_ratio",
        "top_token_frac",
        keep.alias("keep"),
        reasons.alias("fail_reasons"),
    )


def pack_token_shards(
    df: DataFrame,
    shard_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign documents to fixed-token-budget output shards — the
    training-data shard-writer step (pack a corpus into ~equal-token
    files in a deterministic order).

    Semantics: docs are laid out end-to-end in ``id_col`` order; a
    doc's shard is ``floor(start_offset / shard_tokens)`` where
    ``start_offset`` is the running token total of all earlier docs.
    Every shard holds ≤ ``shard_tokens`` + one straddling doc — the
    standard start-offset packing (exact greedy bin packing is a
    sequential recurrence; start-offset packing is the
    prefix-sum-parallel form used by shard writers).

    Scale shape: the running token total is ``global_prefix`` (the C5
    prefix sum, operators/materialize.py) — never a one-partition
    ``sum() OVER (ORDER BY id)``.

    Output: (id, n_tokens, start_offset, shard_id, shard_pos).
    """
    from embeddinghub_spark.operators.materialize import global_prefix

    with_tok = df.select(
        F.col(id_col), token_count(text_col).cast("bigint").alias("n_tokens")
    )
    ends, _ = global_prefix(
        with_tok,
        [F.col(id_col).asc()],
        out_col="_end",
        value_col="n_tokens",
        num_partitions=num_partitions,
    )
    return (
        ends.withColumn("start_offset", F.col("_end") - F.col("n_tokens"))
        .withColumn(
            "shard_id", F.expr(f"start_offset DIV {int(shard_tokens)}")
        )
        .withColumn(
            "shard_pos", F.col("start_offset") % F.lit(int(shard_tokens))
        )
        .select(id_col, "n_tokens", "start_offset", "shard_id", "shard_pos")
    )


def pack_sequences(
    df: DataFrame,
    *,
    order_cols: list[str],
    n_tokens_col: str,
    max_seq_len: int,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Fixed-context-length sequence packing — the step an LLM trainer
    actually consumes: lay the tokenized documents end-to-end in
    ``order_cols`` order (e.g. a ``shuffle_order``/``interleave_sources``
    position) and cut the concatenated token stream into sequences of
    exactly ``max_seq_len`` tokens, documents SPANNING sequence
    boundaries (the public GPT concat-and-chunk recipe; T5 pack-
    without-splitting is its no-span special case when every doc fits).
    The output is the document-boundary table a trainer turns into
    attention masks and position resets: one row per (document ×
    sequence) overlap slice.

    Output: input columns plus
      - ``seq_id``      0-based sequence index (bigint),
      - ``seq_offset``  token offset of this slice WITHIN the sequence,
      - ``doc_offset``  token offset of this slice WITHIN the document,
      - ``slice_len``   tokens of this document in this sequence.
    Per sequence, slices tile [0, max_seq_len) exactly (the final
    sequence may be shorter); per document, slices tile [0, n_tokens).
    Zero-token documents contribute nothing and are dropped.

    Scale shape (100 TB discipline): the only global state is the
    exclusive prefix sum of token counts over the order —
    ``global_prefix`` (the C5 prefix sum, operators/materialize.py),
    never a one-partition global window. The slice explode adds
    ≤ total_tokens/max_seq_len + n_docs rows — linear in corpus size.
    Everything else is map-side arithmetic on (start, end) offsets.

    Contracts: ``order_cols`` must be a total order (tie-break with
    the id); ``n_tokens_col`` must be NON-NULL and non-negative — the
    first NULL or negative value raises at execution time (either
    would silently shift every later document's offsets).
    """
    from embeddinghub_spark.functions.selection import _require_absent
    from embeddinghub_spark.operators.materialize import global_prefix

    if max_seq_len < 1:
        raise ValueError("max_seq_len must be >= 1")
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    _require_absent(
        df,
        ("_tok", "_end", "_start", "_sbase", "_from", "_to", "seq_id",
         "seq_offset", "doc_offset", "slice_len"),
        "pack_sequences",
    )
    checked_tok = F.when(
        F.col(n_tokens_col).isNull() | (F.col(n_tokens_col) < 0),
        F.raise_error(
            F.lit(f"pack_sequences: n_tokens_col {n_tokens_col!r} "
                  "contains NULL or negative values")
        ).cast("bigint"),
    ).otherwise(F.col(n_tokens_col).cast("bigint"))
    ends, _ = global_prefix(
        df.withColumn("_tok", checked_tok).filter(F.col("_tok") > 0),
        [F.col(c).asc() for c in order_cols],
        out_col="_end",
        value_col="_tok",
        num_partitions=num_partitions,
    )
    L = int(max_seq_len)
    spanned = (
        ends.withColumn("_start", F.col("_end") - F.col("_tok"))
        # a doc covering global tokens [start, end) touches sequences
        # start DIV L .. (end-1) DIV L — explode one row per overlap
        .withColumn(
            "seq_id",
            F.explode(
                F.sequence(
                    F.expr(f"_start DIV {L}"), F.expr(f"(_end - 1) DIV {L}")
                )
            ),
        )
        .withColumn("_sbase", F.col("seq_id") * F.lit(L))
        .withColumn("_from", F.greatest("_start", "_sbase"))
        .withColumn(
            "_to", F.least(F.col("_end"), F.col("_sbase") + F.lit(L))
        )
    )
    return (
        spanned.withColumn("seq_offset", F.col("_from") - F.col("_sbase"))
        .withColumn("doc_offset", F.col("_from") - F.col("_start"))
        .withColumn("slice_len", F.col("_to") - F.col("_from"))
        .drop("_tok", "_start", "_end", "_sbase", "_from", "_to")
    )


def ngram_counts(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide word n-gram frequencies — the building block for
    n-gram LM scoring, contamination checks, and boilerplate mining.

    Map side: tokenize, ``posexplode`` the n-gram start positions, and
    ``array_join(slice(...))`` each window — sequence/slice/array_join
    are ordinary codegen expressions, not lambda HOFs, and the explode
    is the unavoidable output fan-out (one row per n-gram occurrence).
    Reduce side: one groupBy on the n-gram string; partial aggregation
    collapses each map task's repeats before the exchange, so the wire
    carries distinct (task, ngram) pairs — the classic word-count
    shape, linear at any corpus size.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = F.col("_toks")
    starts = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1), F.lit(1))
    return (
        df.select(tokens(text_col).alias("_toks"))
        .filter(F.size(toks) >= n)
        .select(F.explode(starts).alias("_start"), toks)
        .select(
            F.array_join(F.slice(toks, F.col("_start"), n), " ").alias("ngram")
        )
        .groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k corpus n-grams, deterministically ordered (count desc,
    ngram asc — a total order, so the k-boundary is stable across
    engines). orderBy+limit compiles to TakeOrdered: per-partition
    top-k then a driver merge of k-sized heaps — no global sort."""
    return (
        ngram_counts(df, n, text_col, id_col)
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


def _doc_ngrams(
    df: DataFrame, n: int, text_col: str, id_col: str, out_id: str
) -> DataFrame:
    """Distinct (doc, md5(n-gram)) pairs — the hashed n-gram set of
    each document. The gram string never leaves the map task; only the
    16-byte hash shuffles (once, for the distinct)."""
    toks = F.col("_toks")
    starts = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1), F.lit(1))
    return (
        df.select(F.col(id_col).alias(out_id), tokens(text_col).alias("_toks"))
        .filter(F.size(toks) >= n)
        .select(F.col(out_id), F.explode(starts).alias("_s"), toks)
        .select(
            F.col(out_id),
            F.md5(F.array_join(F.slice(toks, F.col("_s"), n), " ")).alias(
                "gram"
            ),
        )
        .distinct()
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_shared: int = 2,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination check: for every (corpus doc, benchmark
    doc) pair sharing ≥ ``min_shared`` distinct word n-grams, report
    the overlap count — the standard decontamination step before
    training (drop or flag training docs that leak eval data).

    Plan: both sides reduce to distinct (doc, md5(gram)) sets; the
    join is equi on the hash with the benchmark side small (Catalyst/
    AQE broadcasts it), then one (doc, bench) count aggregate with
    map-side partials. ``max_df`` drops grams appearing in more than
    that many corpus docs BEFORE the join — boilerplate n-grams are
    exactly the hot keys that would skew the probe, and they carry no
    contamination signal; the df-filter is one extra aggregate over
    already-distinct pairs.

    Output: (doc_id, bench_id, n_shared), n_shared ≥ ``min_shared``.
    """
    c = _doc_ngrams(corpus, n, text_col, id_col, "doc_id")
    b = _doc_ngrams(benchmark, n, text_col, id_col, "bench_id")
    if max_df is not None:
        rare = (
            c.groupBy("gram")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("gram")
        )
        c = c.join(rare, "gram", "left_semi")
    return (
        c.join(b, "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# Markup patterns pinned to ASCII, no backreferences — identical
# semantics in Java regex (Spark) and RE2 (DuckDB).
HTML_TAG_PATTERN = r"<[^>]*>"
URL_PATTERN = r"https?://[^ ]+"


def strip_markup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Strip HTML tags and URLs from a text column (the web-corpus
    cleaning step), emitting the cleaned text plus per-category match
    counts measured on the ORIGINAL text. Tag removal runs before URL
    removal; whitespace is collapsed afterwards so downstream token
    counts see the same contract as raw text. Pure codegen regexp
    projection — map-only, no shuffle."""
    c = F.col(text_col)
    cleaned = F.regexp_replace(c, HTML_TAG_PATTERN, " ")
    cleaned = F.regexp_replace(cleaned, URL_PATTERN, " ")
    cleaned = F.trim(F.regexp_replace(cleaned, r" +", " "))
    return df.select(
        F.col(id_col),
        cleaned.alias("clean_text"),
        F.regexp_count(c, F.lit(HTML_TAG_PATTERN)).alias("n_tags"),
        F.regexp_count(c, F.lit(URL_PATTERN)).alias("n_urls"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query
    term set — retrieval-style scoring for training-data selection
    (rank a corpus against a topic description, keep the head).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln((N−df+0.5)/(df+0.5) + 1)   (the Lucene/standard form).

    Plan: the (doc, term) explode is filtered to the query terms
    IMMEDIATELY (isin on a literal set — the fan-out collapses in the
    map task, so only query-term hits shuffle); doc length comes from
    a map-only regexp count, N and avgdl are two bounded scalars (one
    tiny agg job, like the watermark scalars), and per-term df is an
    aggregate over the already-tiny hit set. Scores rounded to 6 so
    libm ``ln`` ulps can't leak across engines. Docs with no query
    term score 0 (kept — ranking needs the zeros explicit).
    """
    terms = sorted(set(query_terms))
    n_docs = df.count()
    lens = df.select(
        F.col(id_col), token_count(text_col).cast("double").alias("dl")
    )
    avgdl = lens.agg(F.avg("dl")).first()[0] or 0.0
    hits = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .filter(F.col("tok").isin(terms))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = hits.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    scored = (
        hits.join(dfreq, "tok")
        .join(lens, id_col)
        .select(
            F.col(id_col),
            (
                idf
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.lit(float(avgdl))
                    )
                )
            ).alias("_s"),
        )
        .groupBy(id_col)
        .agg(F.sum("_s").alias("_score"))
    )
    return (
        lens.join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.col("dl").cast("bigint").alias("doc_len"),
            F.round(F.coalesce(F.col("_score"), F.lit(0.0)), 6).alias(
                "bm25"
            ),
        )
    )


def text_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per doc: token/char/punct/stopword counts + quality +
    detected language + fingerprint.

    Every metric is a codegen regexp/length expression over the raw
    text — no token array is ever built, no interpreted array HOFs
    (Spark's higher-order functions are CodegenFallback), no shuffle:
    the whole operator is a map-only projection. Token-membership
    counts use ``_word_set_pattern`` (count parity with the
    split-then-filter tokenizer pinned by test and oracle).
    """
    df = ensure_parallelism(df)  # split-deficit fan-out (see vector.py)
    scores = lang_scores(text_col)
    staged = df.select(
        F.col(id_col),
        F.col(text_col),
        token_count(text_col).alias("n_tokens"),
        char_count(text_col).alias("n_chars_computed"),
        punct_count(text_col).alias("n_punct"),
        stopword_count(text_col).alias("n_stopwords"),
        bpe_unit_count(text_col).alias("n_bpe_units"),
        *[scores[lang].alias(f"_s_{lang}") for lang in sorted(LANG_MARKERS)],
    )
    n_tok = F.col("n_tokens").cast("double")
    n_char = F.col("n_chars_computed").cast("double")
    n_punct = F.col("n_punct").cast("double")
    n_stop = F.col("n_stopwords").cast("double")
    len_factor = F.least(F.lit(1.0), n_tok / F.lit(64.0))
    punct_ratio = F.when(n_char > 0, n_punct / n_char).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    quality = len_factor * (F.lit(1.0) - punct_ratio) * F.least(
        F.lit(1.0), F.lit(4.0) * stop_ratio
    )
    ranked = [
        F.struct(
            F.col(f"_s_{lang}").alias("score"),
            F.lit(-i).alias("pref"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(sorted(LANG_MARKERS))
    ]
    best = F.array_max(F.array(*ranked))
    lang_detected = F.when(
        best.getField("score") > 0, best.getField("lang")
    ).otherwise(F.lit("und"))
    return staged.select(
        F.col(id_col),
        "n_tokens",
        "n_chars_computed",
        "n_punct",
        "n_stopwords",
        "n_bpe_units",
        F.round(quality, 6).alias("quality"),
        lang_detected.alias("lang_detected"),
        fingerprint(text_col).alias("fingerprint"),
    )


def pmi_collocations(
    df: DataFrame,
    min_count: int = 5,
    ratio_num: int = 1,
    ratio_den: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram collocations by pointwise mutual information
    (Church & Hanks): PMI(a,b) = ln(c_ab·N / (c_a·c_b)) over corpus
    unigram/bigram counts, N = total tokens.

    Membership is decided by EXACT integer arithmetic — a bigram is a
    collocation iff ``c_ab·N·ratio_den ≥ ratio_num·c_a·c_b`` (default
    1/1 = positive PMI) and ``c_ab ≥ min_count`` — so the result SET
    never depends on float log parity across engines; the PMI column
    itself is one deterministic double expression over the exact
    integer products, rounded for display. The guard cross-multiplies
    in DECIMAL(38,0): ``c_a·c_b`` can reach N², which overflows a
    bigint past ~3·10⁹ total tokens and Spark's non-ANSI bigint
    multiply wraps SILENTLY — decimal keeps the comparison exact up
    to 10³⁸ (N ≈ 10¹⁹ tokens, far past any corpus).

    Scale shape: two word-count aggregates (map-side partials; the
    classic linear shape), one scalar total (bounded job), and two
    joins of the bigram set against the unigram table keyed on a
    word — AQE broadcasts the unigram side while the vocabulary fits,
    else it's an ordinary hash join. No all-pairs anything.
    """
    uni = ngram_counts(df, 1, text_col, id_col).select(
        F.col("ngram").alias("w"), F.col("n_occurrences").alias("cw")
    )
    total = uni.agg(F.sum("cw")).collect()[0][0] or 0  # bounded scalar job
    bi = ngram_counts(df, 2, text_col, id_col).filter(
        F.col("n_occurrences") >= min_count
    )
    parts = F.split(F.col("ngram"), " ")
    flagged = (
        bi.select(
            "ngram",
            F.col("n_occurrences").alias("c_ab"),
            parts.getItem(0).alias("_w1"),
            parts.getItem(1).alias("_w2"),
        )
        .join(uni.select(F.col("w").alias("_w1"), F.col("cw").alias("_ca")), "_w1")
        .join(uni.select(F.col("w").alias("_w2"), F.col("cw").alias("_cb")), "_w2")
        .filter(
            F.col("c_ab").cast("decimal(38,0)")
            * F.lit(int(total)).cast("decimal(38,0)")
            * F.lit(int(ratio_den)).cast("decimal(38,0)")
            >= F.lit(int(ratio_num)).cast("decimal(38,0)")
            * F.col("_ca").cast("decimal(38,0)")
            * F.col("_cb").cast("decimal(38,0)")
        )
    )
    return flagged.select(
        "ngram",
        "c_ab",
        F.round(
            F.log(
                (F.col("c_ab") * F.lit(int(total))).cast("double")
                / (F.col("_ca") * F.col("_cb")).cast("double")
            ),
            6,
        ).alias("pmi"),
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's
    own unigram language model — the classic cheap perplexity proxy
    for quality scoring (a KenLM stand-in: documents whose words are
    corpus-typical score high; gibberish/outlier docs score low and
    get filtered or downweighted before training).

    score(d) = (Σ_w tf(d,w) · log10(c(w)/N)) / |d|, where c(w) is the
    corpus frequency of w and N the corpus token count. No smoothing
    is needed: every scored word is by construction in the corpus.

    Determinism protocol: each (doc, word) contribution is rounded to
    9 decimals and summed as DECIMAL(28,9) — an EXACT sum, so the
    result is independent of Spark's partial-aggregation order (a raw
    double Σ would hash-differ from any oracle by summation order).
    One double division at the end, rounded to 6.

    Scale shape: tf aggregate (shuffle on (doc, word), map-side
    combine) → vocab aggregate (shuffle on word, rows = |vocab|) →
    tf×vocab join (vocab ≪ corpus; AQE broadcasts it) → per-doc
    aggregate (shuffle on doc). Raw text never shuffles — only
    (doc, word, counts) rows. The corpus-total N is a 1-row cross
    join, not a driver round-trip.

    Output: ``(doc_id, n_tokens, logprob)`` for documents with at
    least one token.
    """
    tf = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wc = tf.groupBy("w").agg(F.sum("tf").alias("cw"))
    total = wc.agg(F.sum("cw").alias("n_corpus"))
    term = F.round(
        F.col("tf")
        * F.log10(F.col("cw").cast("double") / F.col("n_corpus").cast("double")),
        9,
    ).cast("decimal(28,9)")
    return (
        tf.join(wc, "w")
        .crossJoin(F.broadcast(total))
        .select(F.col(id_col), F.col("tf"), term.alias("_term"))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum("_term").cast("double") / F.sum("tf").cast("double"), 6
            ).alias("logprob"),
        )
    )


def bigram_tf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document bigram term frequencies — ``(doc_id, w1, w2,
    tfb)`` — the SHARED upstream of ``bigram_logprob`` and
    ``kn_bigram_logprob`` (both models consume exactly this frame; the
    corpus tokenize + bigram explode + (doc, w1, w2) aggregate is
    their dominant cost, so a caller scoring the same corpus under
    both smoothings should build it once, checkpoint it, and pass it
    to each via ``tf_df``). Bigrams form MAP-ONLY inside the token
    array; documents with < 2 tokens contribute nothing."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks")).filter(
        F.size("_toks") >= 2
    )
    bg = toked.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(_toks) - 1), "
                "i -> struct(_toks[i-1] AS w1, _toks[i] AS w2))"
            )
        ).alias("_bg"),
    ).select(id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    return bg.groupBy(id_col, "w1", "w2").agg(
        F.count(F.lit(1)).alias("tfb")
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
    tf_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean INTERPOLATED BIGRAM log-probability under the
    corpus's own LM — one modeling step past ``unigram_logprob``
    toward the CCNet/KenLM n-gram scorers: word order now matters
    ("the quick brown fox" and "fox the brown quick" share a unigram
    score but not a bigram one), so shuffled/garbled text drops in a
    way no bag-of-words proxy can detect.

    score(d) = (Σ_bg tf(d,w1,w2) · log10(λ·P(w2|w1) + (1−λ)·P(w2)))
    / n_bigrams(d), with P(w2|w1) = c(w1,w2)/c(w1·) on bigram
    positions and P(w2) the corpus unigram marginal. Jelinek–Mercer
    interpolation (λ = 0.7) is the standard backoff: self-trained
    corpora never hit a zero bigram, but λ < 1 keeps rare
    continuations from being overtrusted. Documents with < 2 tokens
    have no bigrams and are absent from the output.

    Determinism protocol (the ``unigram_logprob`` discipline): each
    (doc, bigram) contribution rounds to 9 decimals and sums as
    DECIMAL(28,9) — exact, partial-aggregation-order independent; one
    double division at the end, rounded to 6. λ and 1−λ are embedded
    as the same Python doubles in the Spark plan and the oracle.

    Scale shape: bigrams are formed MAP-ONLY inside the token array
    (transform over an index sequence — raw text never shuffles);
    then tf aggregate on (doc, w1, w2), corpus bigram counts
    (rows = |distinct bigrams|), first-word totals, and the unigram
    marginal — all map-side-combined; the model joins are
    vocab-vs-corpus sized and left to AQE. Exchange rows are
    (doc, bigram, count) tuples, never tokens.

    ``tf_df`` injects a precomputed (ideally checkpointed)
    ``bigram_tf`` frame so a caller scoring the same corpus under
    several smoothings pays the tokenize/explode/aggregate once.

    Output: ``(doc_id, n_bigrams, logprob)``.
    """
    if not 0.0 < lam <= 1.0:
        raise ValueError("lam must be in (0, 1]")
    # tfb feeds the model build AND the final scoring join; bc feeds
    # cf AND the join — checkpoint both so the corpus explode runs
    # ONCE, not once per consumer (at 100 TB that's the whole cost)
    tfb = (
        tf_df if tf_df is not None
        else bigram_tf(df, text_col, id_col).localCheckpoint(eager=False)
    )
    bc = tfb.groupBy("w1", "w2").agg(
        F.sum("tfb").alias("cb")
    ).localCheckpoint(eager=False)
    cf = bc.groupBy("w1").agg(F.sum("cb").alias("_cf"))
    wc = (
        df.select(F.explode(tokens(text_col)).alias("w2"))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    total = wc.agg(F.sum("cw").alias("n_corpus"))
    p = F.lit(lam) * (
        F.col("cb").cast("double") / F.col("_cf").cast("double")
    ) + F.lit(1.0 - lam) * (
        F.col("cw").cast("double") / F.col("n_corpus").cast("double")
    )
    term = F.round(F.col("tfb") * F.log10(p), 9).cast("decimal(28,9)")
    return (
        tfb.join(bc, ["w1", "w2"])
        .join(cf, "w1")
        .join(wc, "w2")
        .crossJoin(F.broadcast(total))
        .select(F.col(id_col), F.col("tfb"), term.alias("_term"))
        .groupBy(id_col)
        .agg(
            F.sum("tfb").alias("n_bigrams"),
            F.round(
                F.sum("_term").cast("double") / F.sum("tfb").cast("double"), 6
            ).alias("logprob"),
        )
    )


def kn_bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    tf_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean bigram log-probability under INTERPOLATED
    KNESER–NEY — the smoothing KenLM actually ships (the CCNet
    quality-scoring default), one step past ``bigram_logprob``'s
    Jelinek–Mercer: the backoff weight is *continuation* probability
    (in how many distinct contexts does w2 appear) rather than the raw
    unigram marginal, so high-frequency-but-context-bound words
    ("Francisco") stop inflating scores of garbled text.

    P(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·)
             + D·T(w1)/c(w1·) · N_cont(w2)/B
    where D is the absolute discount (0.75, the Chen–Goodman default),
    T(w1) = |{w2 : c(w1,w2) > 0}| distinct continuations of w1,
    N_cont(w2) = |{w1 : c(w1,w2) > 0}| distinct left-contexts of w2,
    and B the number of distinct bigram TYPES. Scored on the training
    corpus itself every bigram is observed, so P > 0 always (the
    backoff term is strictly positive). Documents with < 2 tokens
    have no bigrams and are absent from the output.

    Determinism protocol (the ``unigram_logprob`` discipline): each
    (doc, bigram) contribution rounds to 9 decimals and sums as
    DECIMAL(28,9) — exact, partial-aggregation-order independent; one
    double division at the end, rounded to 6.

    Scale shape: identical to ``bigram_logprob`` — bigrams form
    MAP-ONLY inside token arrays; all model frames (cb/cf/T/N_cont/B)
    derive from the |bigram types|-sized ``bc`` aggregate with
    map-side combine; the model joins are vocab-vs-corpus sized and
    left to AQE. Raw text never shuffles.

    ``tf_df`` injects a precomputed (ideally checkpointed)
    ``bigram_tf`` frame — shared with ``bigram_logprob`` when both
    smoothings score the same corpus.

    Output: ``(doc_id, n_bigrams, logprob)``.
    """
    if not 0.0 < discount < 1.0:
        raise ValueError("discount must be in (0, 1)")
    # tfb feeds bc AND the final join; bc feeds FOUR consumers
    # (left/cont/types/join) — checkpoint both so the corpus explode
    # and the bigram-type aggregate each run ONCE
    tfb = (
        tf_df if tf_df is not None
        else bigram_tf(df, text_col, id_col).localCheckpoint(eager=False)
    )
    bc = tfb.groupBy("w1", "w2").agg(
        F.sum("tfb").alias("cb")
    ).localCheckpoint(eager=False)
    # every model statistic below reads the |bigram types|-sized bc
    left = bc.groupBy("w1").agg(
        F.sum("cb").alias("_cf"),           # c(w1 ·)
        F.count(F.lit(1)).alias("_t"),      # T(w1): distinct continuations
    )
    cont = bc.groupBy("w2").agg(
        F.count(F.lit(1)).alias("_ncont")   # N_cont(w2): distinct contexts
    )
    types = bc.agg(F.count(F.lit(1)).alias("_b"))
    d = F.lit(discount)
    p = (
        F.greatest(F.col("cb").cast("double") - d, F.lit(0.0))
        / F.col("_cf").cast("double")
        + d * F.col("_t").cast("double") / F.col("_cf").cast("double")
        * (F.col("_ncont").cast("double") / F.col("_b").cast("double"))
    )
    term = F.round(F.col("tfb") * F.log10(p), 9).cast("decimal(28,9)")
    return (
        tfb.join(bc, ["w1", "w2"])
        .join(left, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select(F.col(id_col), F.col("tfb"), term.alias("_term"))
        .groupBy(id_col)
        .agg(
            F.sum("tfb").alias("n_bigrams"),
            F.round(
                F.sum("_term").cast("double") / F.sum("tfb").cast("double"), 6
            ).alias("logprob"),
        )
    )


def kn_trigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document mean trigram log-probability under INTERPOLATED
    KNESER–NEY — ``kn_bigram_logprob`` taken one order higher, the
    shape real perplexity filters run (KenLM ships 5-gram KN; trigram
    is where the quality signal separates fluent text from shuffled
    tokens, which any bigram model scores too kindly).

    P(w3|w1w2) = max(c(w1w2w3) − D, 0)/c(w1w2·)
               + D·T(w1w2)/c(w1w2·) · P_low(w3|w2)
    P_low(w3|w2) = max(N(·w2w3) − D, 0)/N(·w2·)
                 + D·T(w2)/N(·w2·) · N(··w3)/N(··)
    with D the absolute discount, T(ctx) the distinct-continuation
    count of a context, and the lower orders built from TYPE counts
    (N(·w2w3) = distinct w1 preceding the bigram, etc.) — the
    Kneser–Ney insight that backoff mass should follow how many
    contexts a unit completes, not how often. Every statistic derives
    from the one distinct-trigram-types frame, so the model is
    self-consistent and the DuckDB oracle replays it exactly. Scored
    on the training corpus itself every trigram is observed, so
    P > 0 always. Documents with < 3 tokens have no trigrams and are
    absent from the output.

    Determinism protocol (the ``unigram_logprob`` discipline): each
    (doc, trigram) contribution rounds to 9 decimals and sums as
    DECIMAL(28,9) — exact, partial-aggregation-order independent; one
    double division at the end, rounded to 6.

    Scale shape: trigrams form MAP-ONLY inside token arrays (raw text
    never shuffles); every model frame (contexts, type counts,
    totals) is an aggregate of the |trigram types|-sized ``tc`` with
    map-side combine; the scoring joins are model-vs-corpus sized and
    left to AQE.

    Output: ``(doc_id, n_trigrams, logprob)``.
    """
    if not 0.0 < discount < 1.0:
        raise ValueError("discount must be in (0, 1)")
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks")).filter(
        F.size("_toks") >= 3
    )
    tg = toked.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(2, size(_toks) - 1), "
                "i -> struct(_toks[i-2] AS w1, _toks[i-1] AS w2, "
                "_toks[i] AS w3))"
            )
        ).alias("_tg"),
    ).select(
        id_col,
        F.col("_tg.w1").alias("w1"),
        F.col("_tg.w2").alias("w2"),
        F.col("_tg.w3").alias("w3"),
    )
    # tft feeds tc AND the final join; tc feeds ctx/mid/join; mid
    # feeds mid2/cont/types/join — checkpoint each fan-out point so
    # the corpus explode and the type aggregates each run ONCE
    tft = tg.groupBy(id_col, "w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("tft")
    ).localCheckpoint(eager=False)
    tc = tft.groupBy("w1", "w2", "w3").agg(
        F.sum("tft").alias("ct")
    ).localCheckpoint(eager=False)
    # every model statistic below reads the |trigram types|-sized tc
    ctx = tc.groupBy("w1", "w2").agg(
        F.sum("ct").alias("_cf12"),        # c(w1 w2 ·)
        F.count(F.lit(1)).alias("_t12"),   # T(w1w2): distinct w3
    )
    mid = tc.groupBy("w2", "w3").agg(
        F.count(F.lit(1)).alias("_nmid")   # N(· w2 w3): distinct w1
    ).localCheckpoint(eager=False)
    mid2 = mid.groupBy("w2").agg(
        F.sum("_nmid").alias("_nd2"),      # N(· w2 ·)
        F.count(F.lit(1)).alias("_t2"),    # T(w2): distinct w3 after w2
    )
    cont = mid.groupBy("w3").agg(
        F.count(F.lit(1)).alias("_n3")     # N(· · w3): distinct w2 before w3
    )
    types = mid.agg(F.count(F.lit(1)).alias("_bt"))  # N(· ·): (w2,w3) types
    d = F.lit(discount)
    p_low = (
        F.greatest(F.col("_nmid").cast("double") - d, F.lit(0.0))
        / F.col("_nd2").cast("double")
        + d * F.col("_t2").cast("double") / F.col("_nd2").cast("double")
        * (F.col("_n3").cast("double") / F.col("_bt").cast("double"))
    )
    p = (
        F.greatest(F.col("ct").cast("double") - d, F.lit(0.0))
        / F.col("_cf12").cast("double")
        + d * F.col("_t12").cast("double") / F.col("_cf12").cast("double")
        * p_low
    )
    term = F.round(F.col("tft") * F.log10(p), 9).cast("decimal(28,9)")
    return (
        tft.join(tc, ["w1", "w2", "w3"])
        .join(ctx, ["w1", "w2"])
        .join(mid, ["w2", "w3"])
        .join(mid2, "w2")
        .join(cont, "w3")
        .crossJoin(F.broadcast(types))
        .select(F.col(id_col), F.col("tft"), term.alias("_term"))
        .groupBy(id_col)
        .agg(
            F.sum("tft").alias("n_trigrams"),
            F.round(
                F.sum("_term").cast("double") / F.sum("tft").cast("double"), 6
            ).alias("logprob"),
        )
    )


def corpus_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Per-group lexical-diversity profile — token count, vocabulary
    size, Shannon token entropy (bits), and type-token ratio — the
    mixture-health read a pretraining recipe checks per source before
    weighting it (a source whose entropy collapses is boilerplate or
    template spam regardless of its quality score; pairs with
    ``domain_tag`` / ``sample_mixture`` the way ``psi_drift`` pairs
    with serving).

    Entropy uses the identity ``H = log2(N) − (Σ c·log2 c)/N`` so the
    reduction is a single sum over per-WORD terms: each ``c·log2(c)``
    rounds to 9 decimals and sums as DECIMAL(28,9) — exact and
    aggregation-order independent (the ``unigram_logprob`` protocol);
    the two double ops happen once per OUTPUT row.

    Scale shape: one (group, word) count aggregate with map-side
    combine (exchange = per-group vocabulary rows, never tokens),
    then one per-group fold of the vocab-sized frame. With
    ``group_col=None`` the whole corpus is one group (column ``group``
    = 'all').

    Output: ``(group, n_tokens, vocab_size, token_entropy,
    type_token_ratio)``.
    """
    g = (
        F.col(group_col).cast("string")
        if group_col
        else F.lit("all")
    ).alias("_g")
    wc = (
        df.select(g, F.explode(tokens(text_col)).alias("w"))
        .groupBy("_g", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    term = F.round(
        F.col("c") * F.log2(F.col("c").cast("double")), 9
    ).cast("decimal(28,9)")
    out = wc.select("_g", "c", term.alias("_t")).groupBy("_g").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("_t").alias("_tsum"),
    )
    n = F.col("n_tokens").cast("double")
    return out.select(
        F.col("_g").alias("group"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("vocab_size").cast("bigint").alias("vocab_size"),
        F.round(
            F.log2(n) - F.col("_tsum").cast("double") / n, 6
        ).alias("token_entropy"),
        F.round(F.col("vocab_size") / n, 6).alias("type_token_ratio"),
    )


# Pinned domain lexicons for corpus mixture tagging — deterministic,
# oracle-replayable (extend per-domain as needed, like LANG_MARKERS).
DOMAIN_LEXICONS: dict[str, list[str]] = {
    "data_eng": ["table", "join", "batch", "agg", "merge", "group"],
    "streaming": ["stream", "window", "watermark", "kafka", "slow"],
    "ml": ["vector", "embedding", "model", "train", "spark"],
}


def domain_tag(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lexicons: dict[str, list[str]] | None = None,
    other: str = "other",
) -> DataFrame:
    """Keyword-lexicon domain classification — the tagging pass a
    pretraining pipeline runs before domain-mixture resampling
    (`operators.split.sample_mixture` consumes the tag as its class
    column): each domain is a word list, a document's domain score is
    its token-occurrence count in that list, and the tag is the
    argmax with deterministic tie-breaks (highest score, then lexicon
    declaration order; all-zero scores tag ``other``).

    Map-only: one codegen ``regexp_count`` per domain (the
    `_word_set_pattern` protocol — exact parity with token-membership
    counting, which is what the RE2-based oracle replays via
    ``list_filter``), argmax via ``array_max`` over (score, -index)
    structs. ZERO exchanges at any corpus size.

    Output: ``(doc_id, domain, domain_score)``.
    """
    lex = lexicons or DOMAIN_LEXICONS
    names = list(lex)
    scores = [
        # null text scores 0 (-> 'other'), not a null that would
        # null-propagate through the argmax to an arbitrary domain
        F.coalesce(
            F.regexp_count(F.col(text_col), F.lit(_word_set_pattern(words))),
            F.lit(0),
        ).alias(f"_s_{i}")
        for i, (_, words) in enumerate(lex.items())
    ]
    scored = df.select(F.col(id_col), *scores)
    best = F.array_max(
        F.array(*[
            F.struct(
                F.col(f"_s_{i}").alias("s"),
                F.lit(-i).alias("ni"),
                F.lit(n).alias("name"),
            )
            for i, n in enumerate(names)
        ])
    )
    return scored.select(
        F.col(id_col),
        F.when(best.getField("s") == 0, F.lit(other))
        .otherwise(best.getField("name"))
        .alias("domain"),
        best.getField("s").alias("domain_score"),
    )


def perplexity_buckets(
    df: DataFrame,
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style perplexity stratification (Wenzek et al. 2020,
    arXiv:1911.00359): score every document with the corpus unigram
    LM (`unigram_logprob`), cut the score distribution into
    ``n_buckets`` equal-mass strata with the deterministic histogram
    sketch (`profile.histogram_quantiles`), and tag each document
    with its stratum — bucket 0 = lowest log-probability (the
    "tail" CCNet discards or downweights), bucket n-1 = most
    corpus-typical ("head").

    Pure composition of two already-oracle-checked operators; the
    thresholds travel as a broadcast ONE-ROW frame (conditional
    aggregation over the n_buckets-1 quantile rows), so no driver
    collect and no second evaluation of the scored frame (it is
    localCheckpoint'd and read by both the quantile pass and the
    final tagging pass).

    Output: ``(doc_id, logprob, bucket)``; scale shape = the two
    component shapes + one broadcast join.
    """
    from embeddinghub_spark.functions.profile import histogram_quantiles

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    ul = unigram_logprob(df, text_col, id_col).localCheckpoint(eager=False)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = histogram_quantiles(ul, "logprob", qs)
    one_row = cuts.agg(*[
        F.max(F.when(F.col("quantile") == q, F.col("value"))).alias(f"_t{i}")
        for i, q in enumerate(sorted(qs))
    ])
    bucket = F.lit(n_buckets - 1)
    for i in range(n_buckets - 2, -1, -1):
        bucket = F.when(
            F.col("logprob") <= F.col(f"_t{i}"), F.lit(i)
        ).otherwise(bucket)
    return ul.crossJoin(F.broadcast(one_row)).select(
        F.col(id_col), F.col("logprob"), bucket.alias("bucket")
    )


def nb_classifier(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    positive: str = "en",
    holdout_mod: int = 5,
) -> DataFrame:
    """Distilled corpus classifier: train a binary multinomial Naive
    Bayes (add-1 smoothing) on the labeled partition, score EVERY
    document — the shape of the fastText-style model-based filters in
    CCNet/RefinedWeb-class pipelines (cheap linear model distills an
    expensive labeling signal, then sweeps the full corpus), chosen
    over gradient-trained models because NB training is CLOSED-FORM
    COUNTING: train and apply are both one-pass DataFrame
    aggregations, no iteration, no driver-side weights — and thus
    exactly replayable by the SQL oracle.

    Train split: documents with ``id % holdout_mod != 0`` (a
    deterministic holdout stands in for "the labeled subset");
    every document is scored regardless, ``is_holdout`` marks the
    rows that never influenced the model.

    score(d) = log10(D⁺/D⁻) + Σ_w tf(d,w)·[log10((n⁺(w)+1)/(N⁺+V))
    − log10((n⁻(w)+1)/(N⁻+V))], with V = training vocabulary size;
    unseen-in-training words contribute the smoothed floor weight via
    the left join's coalesce(0). Determinism protocol: per-(doc,word)
    terms rounded to 9 decimals then held as 1e9-SCALED BIGINTs and
    summed exactly (partial-aggregation-order independent); the prior
    is scaled the same way, ONE bigint→double division at the end —
    and NO final re-round: (identical bigint)/1e9 is the same double
    in every engine, while a final round(x, 6) lands on half
    boundaries the engines break differently (observed at sf0.1: one
    doc whose exact scaled sum ended in …5500, Spark HALF_UP'd the
    decimal expansion up, DuckDB's multiply-round-divide went down).

    Scale shape: class token counts (shuffle on word, rows = |vocab|)
    → two 1-row stat frames (broadcast) → tf×counts left join (AQE
    broadcasts the vocab side while it fits) → per-doc aggregate.
    Raw text never shuffles; training is the same single pass over
    the labeled shard a 100 TB sweep would pay anyway.

    Output: ``(id, label, is_holdout, log_odds, predicted)`` — one
    row per input document (token-free docs score the prior alone).
    Requires both classes nonempty in the training split (the priors
    and smoothing denominators divide by class totals).
    """
    is_pos = F.col(label_col) == positive
    train = df.filter((F.col(id_col) % holdout_mod) != 0)
    doc_stats = train.agg(
        F.sum(is_pos.cast("bigint")).alias("d_pos"),
        F.sum((~is_pos).cast("bigint")).alias("d_neg"),
    )
    # ONE tokenize pass: the (doc, word, tf) frame feeds both the
    # class counts (joined to the text-free label frame) and the
    # scoring join (standing self-join decision: no cross-side CSE)
    tf = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    train_labels = train.select(F.col(id_col), is_pos.alias("_p"))
    # NOTE (r16): cnts is consumed twice (tok_stats + the scoring
    # join) but checkpointing it was MEASURED WORSE (13→15 jobs,
    # 26→34 stages) — both references live in one action, where
    # Spark's ReuseExchange already dedupes the identical subtree;
    # a checkpoint would split it into extra materialization jobs.
    cnts = (
        tf.join(train_labels, id_col)
        .groupBy("w")
        .agg(
            F.sum(F.when(F.col("_p"), F.col("tf")).otherwise(0)).alias("n_pos"),
            F.sum(F.when(~F.col("_p"), F.col("tf")).otherwise(0)).alias("n_neg"),
        )
    )
    tok_stats = cnts.agg(
        F.sum("n_pos").alias("np"),
        F.sum("n_neg").alias("nn"),
        F.count(F.lit(1)).alias("v"),
    )
    w_pos = (F.coalesce(F.col("n_pos"), F.lit(0)) + 1).cast("double") / (
        F.col("np") + F.col("v")
    ).cast("double")
    w_neg = (F.coalesce(F.col("n_neg"), F.lit(0)) + 1).cast("double") / (
        F.col("nn") + F.col("v")
    ).cast("double")
    term = F.round(
        F.round(F.col("tf") * (F.log10(w_pos) - F.log10(w_neg)), 9)
        * F.lit(1.0e9)
    ).cast("bigint")
    scored = (
        tf.join(cnts, "w", "left")
        .crossJoin(F.broadcast(tok_stats))
        .select(F.col(id_col), term.alias("_term"))
        .groupBy(id_col)
        .agg(F.sum("_term").alias("_s"))
    )
    prior_scaled = F.round(
        F.round(
            F.log10(
                F.col("d_pos").cast("double") / F.col("d_neg").cast("double")
            ),
            9,
        )
        * F.lit(1.0e9)
    ).cast("bigint")
    return (
        df.select(id_col, label_col)
        .join(scored, id_col, "left")
        .crossJoin(F.broadcast(doc_stats))
        .select(
            F.col(id_col),
            F.col(label_col),
            ((F.col(id_col) % holdout_mod) == 0).alias("is_holdout"),
            (
                (prior_scaled + F.coalesce(F.col("_s"), F.lit(0))).cast(
                    "double"
                )
                / F.lit(1.0e9)
            ).alias("log_odds"),
        )
        .withColumn("predicted", F.col("log_odds") > 0)
    )


def hash_vectorizer(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int | None = 64,
    shingle_n: int | None = None,
    auto_dim_load: int = 4,
) -> DataFrame:
    """Feature-hashing ("hashing trick") text vectorizer in sparse
    form — the fastText/Vowpal-Wabbit input featurizer: token t maps
    to bucket ``h(t) mod dim`` with sign ``±1`` from an independent
    hash bit, weights are SIGNED TERM COUNTS (Weinberger et al. 2009:
    the sign hash makes the estimator unbiased). No vocabulary, no
    fitting, no driver state — the feature space is fixed at plan
    time, which is what makes the op embarrassingly parallel at any
    corpus size and immune to vocabulary drift between batches.

    Output is the natural distributed representation: one row per
    NONZERO (doc, bucket) — ``(id, bucket, weight)``, weight a
    bigint (exact integer arithmetic end to end; densify downstream
    only where a fixed-width vector is genuinely needed). Buckets
    whose signed counts cancel to 0 are dropped (they are what a
    sparse dot product would skip anyway).

    Hashing is the repo md5 protocol: bucket from the first 15 hex
    chars, sign from a DISJOINT hex range (chars 16-16), so bucket
    and sign are independent bits of one md5 — one hash per token.

    Scale shape: tokenize → explode → ONE exchange on (id, bucket)
    with map-side combine; the exchange carries at most
    min(|tokens|, dim) rows per document.

    ``shingle_n`` switches the feature unit from single tokens to
    word n-gram shingles (``word_shingles``) — a far larger feature
    universe, so documents share buckets only when they share
    phrasing; that selectivity is what makes the downstream
    ``vector.sparse_cosine_pairs`` self-join bucket-bounded instead
    of all-pairs.

    ``dim=None`` auto-sizes the feature space to the CORPUS — the
    capacity law the r8 sf1 scan measured the hard way (a FIXED dim
    makes bucket df grow with the corpus, so the downstream
    inverted-index join's Σ_b df² grows quadratically; ×21 wall at
    ×10 data): dim = ``auto_dim_load`` × the exact distinct-feature
    count (load factor 1/``auto_dim_load``, default 0.25 — the
    vocabulary-tracking regime SCALING.md documents). Exact
    count_distinct, not approx: the chosen dim must replay
    bit-for-bit in any engine (the oracle computes the same scalar),
    and the count is one aggregate over the same exploded features
    the vectorizer already pays for. One extra corpus pass + one
    driver scalar — buy it when the vocabulary is unknown; pass an
    explicit dim when it is known.
    """
    unit = (
        tokens(text_col)
        if shingle_n is None
        else word_shingles(text_col, shingle_n)
    )
    # word_shingles on a zero-token doc yields [""] (the whole-doc
    # else branch); without this filter every empty doc would share
    # one md5("") feature and pair at cosine 1.0 downstream — the
    # token path's "empty doc -> no rows" behavior is the contract
    ex = df.select(F.col(id_col), F.explode(unit).alias("_w")).filter(
        F.col("_w") != ""
    )
    if dim is None:
        if auto_dim_load < 1:
            raise ValueError("auto_dim_load must be >= 1")
        # ONE tokenize/explode for both the dim-sizing count and the
        # feature build: the exploded frame checkpoints lazily (the
        # count materializes it), so the corpus is tokenized once, not
        # twice — measured 51 → 33 s on the sf1 sparse-cosine entry
        ex = ex.localCheckpoint(eager=False)
        vocab = ex.agg(F.count_distinct("_w")).first()[0]
        dim = auto_dim_load * max(1, int(vocab or 0))
    if dim < 1:
        raise ValueError("dim must be >= 1")
    h = F.md5(F.col("_w"))
    bucket = (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % dim
    ).alias("bucket")
    sign = F.when(
        F.conv(F.substring(h, 16, 1), 16, 10).cast("bigint") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        ex.select(F.col(id_col), bucket, sign.alias("_s"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("_s").cast("bigint").alias("weight"))
        .filter(F.col("weight") != 0)
    )


def source_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group KL divergence of the group's unigram distribution
    from the corpus distribution — KL(P_group || P_corpus) =
    Σ_w P_g(w)·log10(P_g(w)/P(w)). The mixture-drift detector: a
    source whose language suddenly diverges from the corpus (spam
    injection, template change, scraper breakage) jumps in this
    score; also the principled weight for down-sampling outlier
    sources. No smoothing needed: every group word exists in the
    corpus by construction, so the ratio is always finite.

    Determinism protocol: the log argument is computed per-side —
    (c_gw/N_g) / (c_w/N) — three double divisions whose inputs are
    exact integers, so the same bits in any engine at ANY corpus
    size (an integer cross-product c_gw·N would wrap bigint around
    N ≈ 2^63/c_gw — at trillion-token corpora that silently NULLs
    the log and drops terms); each term P_g(w)·log10(ratio) is
    rounded to 9 decimals, 1e9-scaled, and summed as exact BIGINTs
    (the nb_classifier protocol), ONE division at the end.

    Scale shape: (group, word) counts (one exchange, map-side
    combine, distinct pairs only) → corpus word counts derived from
    them (second aggregate over |vocab|·|groups| rows) → join on
    word (AQE broadcasts the |vocab|-row side) → per-group sum.

    Output: (group, n_tokens, kl_divergence).
    """
    gw = (
        df.select(F.col(group_col).alias("_g"), F.explode(tokens(text_col)).alias("_w"))
        .groupBy("_g", "_w")
        .agg(F.count(F.lit(1)).alias("_cgw"))
        .localCheckpoint(eager=False)  # feeds three aggregates
    )
    gtot = gw.groupBy("_g").agg(F.sum("_cgw").alias("_ng"))
    wtot = gw.groupBy("_w").agg(F.sum("_cgw").alias("_cw"))
    ntot = gw.agg(F.sum("_cgw").alias("_n"))
    p_gw = F.col("_cgw").cast("double") / F.col("_ng").cast("double")
    ratio = p_gw / (
        F.col("_cw").cast("double") / F.col("_n").cast("double")
    )
    term = F.round(F.round(p_gw * F.log10(ratio), 9) * F.lit(1.0e9)).cast(
        "bigint"
    )
    return (
        gw.join(wtot, "_w")
        .join(gtot, "_g")
        .crossJoin(F.broadcast(ntot))
        .select(F.col("_g"), F.col("_ng"), term.alias("_t"))
        .groupBy("_g", "_ng")
        .agg(F.sum("_t").alias("_s"))
        .select(
            F.col("_g").alias(group_col),
            F.col("_ng").cast("bigint").alias("n_tokens"),
            (F.col("_s").cast("double") / F.lit(1.0e9)).alias("kl_divergence"),
        )
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    strip_punct: bool = True,
    collapse_whitespace: bool = True,
    mask_digits: bool = False,
) -> DataFrame:
    """Canonical text normalization as a standalone, composable stage
    (the cleanup every dedup/fingerprint pipeline runs first —
    ``fingerprint`` hard-codes one recipe; this exposes the knobs):
    lowercase → optional digit masking (numbers → '0', the classic
    trick that lets '5 items' and '7 items' dedup together) →
    punctuation strip (which PRESERVES whitespace characters, so a
    newline between words never glues them) → whitespace collapse
    (ANY whitespace run → one space) + trim. Pure codegen regexp
    chain, map-only, zero shuffles; ASCII-pinned patterns so Java
    regex (Spark) and RE2 (DuckDB) agree byte for byte.

    NOTE (r17): a redact_pii-style ``ensure_parallelism`` fan-out was
    A/B'd here and REJECTED — sf1 unchanged (2.46 → 2.43 s warm-min)
    while sf0.1 regressed 0.24 → 0.41 s (the added exchange ships the
    full text bytes); unlike redact_pii's 8-pattern stack, this chain
    is cheap enough per row that the shuffle costs more than the
    serialization it removes. The warm sf1/sf0.1 ratio ~6-10 is the
    split-deficit floor of a 1-file test scan at small absolute
    seconds, not a scale shape — on a real multi-split corpus the op
    is embarrassingly parallel.

    Output: all input columns plus ``normalized``.
    """
    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    if mask_digits:
        c = F.regexp_replace(c, r"[0-9]+", "0")
    if strip_punct:
        # keep whitespace in the class: 'hello\nworld' must not
        # become 'helloworld' — the collapse step owns whitespace
        keep = r"a-z0-9\s" if lowercase else r"A-Za-z0-9\s"
        c = F.regexp_replace(c, f"[^{keep}]", "")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn("normalized", c)


def class_tf_idf(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
) -> DataFrame:
    """Class-based TF-IDF (the BERTopic c-TF-IDF score): treat every
    group (cluster, source, language) as ONE concatenated document and
    rank the terms that characterize it — ``score(t, g) = tf(t, g) ·
    ln(1 + A / f(t))`` where ``A`` is the average token count per
    group and ``f(t)`` the corpus-wide term frequency. The standard
    way to LABEL the clusters that semantic dedup / embedding
    clustering produce.

    Output: the ``top_k`` terms per group —
    (group, word, tf, score, rank). Ranking compares the ROUNDED
    score (6 decimals, then word as tiebreak) so libm ``ln`` ulp
    differences can never flip an ordering across engines.

    Scale shape: explode → (group, word) count with map-side combine
    (exchange carries distinct pairs); corpus term frequencies are a
    second aggregate OVER THE PAIR FRAME (already word-partitioned);
    A and |groups| are bounded driver scalars like tf_idf's N. The
    per-group top-k window runs on the AGGREGATED (group, word)
    frame — state is one group's vocabulary, never its raw tokens.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    words = df.select(
        F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("word")
    ).filter(F.col("grp").isNotNull())
    tf = words.groupBy("grp", "word").agg(F.count(F.lit(1)).alias("tf"))
    ft = tf.groupBy("word").agg(F.sum("tf").alias("f"))
    totals = tf.agg(
        F.sum("tf").alias("n_tokens"),
        F.count_distinct(F.col("grp")).alias("n_groups"),
    ).collect()[0]
    if totals["n_groups"] == 0:
        a = 0.0
    else:
        a = float(totals["n_tokens"]) / float(totals["n_groups"])
    scored = tf.join(ft, "word").select(
        "grp",
        "word",
        "tf",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(1.0) + F.lit(a) / F.col("f").cast("double")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("score").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("grp", "word", "tf", "score", "rank")
    )
