"""Data-selection operators for LLM training-data curation.

Beyond-reference surface (BASELINE.json north star: the sampling /
mixture family in `operators/split.py` picks HOW MUCH of each stratum
to keep; these two pick WHICH documents):

- ``dsir_weights`` — hashed-n-gram importance weights (DSIR: "Data
  Selection for Language Models via Importance Resampling", Xie et
  al., NeurIPS 2023, public arXiv 2302.03169): score every raw
  document by how much more likely its hashed n-gram bag is under an
  in-domain target distribution than under the raw-corpus
  distribution. The weights feed the existing samplers
  (``weighted_sample`` / ``temperature_mixture``) for the resampling
  step.
- ``budget_select`` — exact token-budget curation: keep the
  highest-scoring documents until a corpus-wide token budget fills
  (the FineWeb-Edu-style "take the best N tokens" step), with the
  cumulative sum computed by ``global_prefix`` (the C5 prefix sum,
  operators/materialize.py) — no single-partition global window at
  any scale.

Both are pure JVM expressions (split / md5 / aggregate / window) — no
Python UDFs — and both are oracle-replayable: the md5 bucket hash and
the 1e9-scaled round-then-sum bigint discipline match the conventions
pinned across `operators/split.py` and `functions/metrics.py`.

Reference parity anchor: the reference has no data-selection surface
at all — its closest shape is the train/test split
(`provider/clickhouse.go:1103-1155`), whose deterministic-hash
discipline these operators reuse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from embeddinghub_spark.functions.text import tokens
from embeddinghub_spark.functions.vector import ensure_parallelism


def _require_absent(df: DataFrame, reserved: tuple, op: str) -> None:
    """Fail fast when an input frame already carries a column this
    operator injects via ``withColumn`` (ADVICE r11: a silent replace
    would clobber user data — e.g. an input that already has
    ``position`` or ``cum_cost``). Raises ValueError naming the
    collisions; callers rename or drop before selecting."""
    clash = sorted(set(reserved) & set(df.columns))
    if clash:
        raise ValueError(
            f"{op}: input columns collide with reserved helper/output "
            f"names {clash}; rename or drop them first"
        )


def _gram_bucket(gram: Column, n_buckets: int, seed: int) -> Column:
    """Deterministic hashed-feature bucket: md5(gram|seed) → [0, K).

    Same md5 idiom as operators/split.py:_row_hash — identical bytes
    in Spark and DuckDB, so the oracle replays the exact bucketing
    (xxhash64/cityHash have no cross-engine twin). 15 hex digits =
    60 bits, always positive, so ``%`` needs no pmod."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", gram, F.lit(str(seed)))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return h % n_buckets


def doc_grams(text_col: Column | str) -> Column:
    """Word unigrams + bigrams of the pinned single-space tokenizer —
    the DSIR paper's feature set (§3.2: unigram+bigram bag, hashed).
    Bigrams join with a single space; docs with < 2 tokens contribute
    unigrams only; empty docs yield an empty array."""
    # token array bound ONCE as a lambda variable before the per-index
    # bigram transform references it (r17, the word_shingles fix):
    # element_at on the raw tokens() expression re-ran the whole
    # split+filter per bigram position — O(k²) per doc.
    toks = tokens(text_col)

    def build(t: Column) -> Column:
        bigrams = F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i), F.element_at(t, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(t, bigrams)

    return F.element_at(F.transform(F.array(toks), build), 1)


def dsir_weights(
    docs: DataFrame,
    target: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    alpha: float = 1.0,
    seed: int = 7,
) -> DataFrame:
    """Per-document DSIR importance log-weight.

    ``log_weight(d) = Σ_b c_d[b] · (ln p̂_target[b] − ln p̂_raw[b])``
    where ``c_d`` is the doc's hashed unigram+bigram count vector,
    ``p̂`` are Laplace-smoothed (``alpha``) bucket multinomials fit on
    the target subset (rows where ``target`` is true) and on the FULL
    input corpus respectively. Positive = looks more in-domain than
    the average raw doc. Resampling composes downstream:
    ``weighted_sample(out, weight_col="log_weight", ...)`` after an
    exp/temperature transform of the caller's choice.

    Output: ``(id_col, n_grams, log_weight)`` — one row per document
    with ≥ 1 token (empty docs have no features, hence no weight;
    callers keeping them should left-join and COALESCE to 0).

    Scale shape (100 TB discipline):
      - one corpus-linear explode → (doc, bucket) count aggregate
        (map-side combined; md5 buckets are uniform, so no skew key);
      - bucket statistics collapse to ``n_buckets`` rows (K = 8192
        default — a QUALITY knob bounding hash collisions, the paper's
        10⁴-bucket regime; independent of corpus size, see
        docs/SCALING.md audit) and totals to ONE row, both rejoined by
        broadcast — the probability model never shuffles the corpus;
      - per-doc weight is a second doc-grain aggregate of exact
        1e9-scaled bigint terms (round-then-sum: aggregation-order
        independent, oracle-replayable bit-for-bit).

    Determinism: the only doubles are the per-bucket log-ratios,
    rounded to 9 dp BEFORE scaling (functions/metrics.py discipline) —
    a 1-ulp ln() difference between engines cannot flip the rounded
    value except at measure-zero boundaries. The presentation value
    follows the e9→e6 discipline (functions/dedup.py ``_e6``): round
    the exact 1e9-scaled sum ``/1000`` to an INTEGER first, then the
    ``/1e6`` divide is exact — so no engine ever rounds a decimal
    half at 6 dp (an exact ``.5`` tie at 6 dp would otherwise occur
    whenever ``_s % 1000 == 500``, ~1/1000 docs).
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    if id_col in ("n_grams", "log_weight"):
        raise ValueError(
            "dsir_weights: id_col collides with output columns "
            "('n_grams', 'log_weight')"
        )
    ktot = float(alpha) * n_buckets

    docs = ensure_parallelism(docs)  # split-deficit fan-out (vector.py)
    gb = (
        docs.select(
            F.col(id_col),
            target.alias("_tgt"),
            F.explode(doc_grams(text_col)).alias("_g"),
        )
        .select(
            id_col, "_tgt", _gram_bucket(F.col("_g"), n_buckets, seed).alias("_b")
        )
        .groupBy(id_col, "_tgt", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        # count-frame checkpoint (the LM-operator discipline,
        # functions/text.py): three consumers read this frame (bucket
        # stats, totals, per-doc scoring) — without pinning it, the
        # corpus-sized explode+md5 pipeline re-runs once per consumer.
        # The frame is ≤ |docs|·min(doc_grams, K) rows of 4 narrow
        # columns — far smaller than the exploded grams.
        .localCheckpoint(eager=False)
    )
    bt = (
        gb.groupBy("_b")
        .agg(
            F.sum(
                F.when(F.col("_tgt"), F.col("_c")).otherwise(F.lit(0))
            ).alias("_ct"),
            F.sum("_c").alias("_cr"),
        )
        # ≤ n_buckets rows; two consumers in SEPARATE actions (the
        # totals broadcast build and the log-ratio broadcast build)
        # each re-aggregated the corpus-sized gb frame without this
        # pin (r17 plan capture: gb scanned 3×, aggregated 2×). The
        # r16 boundary rule applies: the duplicated subtree spans two
        # broadcast builds, so the checkpoint pays.
        .localCheckpoint(eager=False)
    )
    # totals are the exact integer sum of the per-bucket sums (sum is
    # associative over bigints), so fold bt instead of re-scanning gb
    tot = bt.agg(
        F.sum("_ct").alias("_T"), F.sum("_cr").alias("_R")
    )
    # broadcast-of-a-one-row-aggregate: the repo's sanctioned crossJoin
    lr_raw = (
        F.log((F.col("_ct") + F.lit(float(alpha))) / (F.col("_T") + F.lit(ktot)))
        - F.log((F.col("_cr") + F.lit(float(alpha))) / (F.col("_R") + F.lit(ktot)))
    )
    lrdf = (
        bt.crossJoin(F.broadcast(tot))
        .select(
            "_b",
            F.round(F.round(lr_raw, 9) * F.lit(1e9), 0)
            .cast("bigint")
            .alias("_lrs"),
        )
    )
    out = (
        gb.join(F.broadcast(lrdf), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").cast("bigint").alias("n_grams"),
            F.sum(F.col("_c") * F.col("_lrs")).alias("_s"),
        )
        .select(
            id_col,
            "n_grams",
            (
                F.round(F.col("_s").cast("double") / F.lit(1000.0), 0)
                .cast("bigint")
                / F.lit(1e6)
            ).alias("log_weight"),
        )
    )
    return out


def budget_select(
    df: DataFrame,
    *,
    score_col: str,
    cost_col: str,
    budget: int,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact greedy budget curation: order rows by ``(score_col DESC,
    id_col ASC)`` and keep the prefix whose INCLUSIVE cumulative
    ``cost_col`` stays ≤ ``budget`` — semantically
    ``SUM(cost) OVER (ORDER BY score DESC, id) <= budget``, the
    "select the best X tokens" curation step.

    Output: the kept rows plus ``cum_cost`` (the inclusive running
    total, so callers can see how full the budget ran).

    Scale shape: the running sum is ``global_prefix`` (the C5
    prefix sum, operators/materialize.py) — no single-partition
    global window.

    Determinism: ``(score_col, id_col)`` must be a total order with an
    engine-stable score — use exact-integer or pre-rounded scores, not
    raw doubles (1-ulp drift at a budget boundary would flip the last
    kept row).

    Cost contract: ``cost_col`` must be NON-NULL and non-negative. A
    NULL cost would otherwise ride along for free (SUM skips nulls),
    silently inflating the kept set past the budget — so the first
    NULL encountered raises at execution time instead.
    """
    _require_absent(df, ("_cost", "cum_cost"), "budget_select")
    from embeddinghub_spark.operators.materialize import global_prefix

    # fail-fast on NULL costs (see cost contract above): evaluated once
    # per row inside the checkpointed ranged pass, zero extra jobs.
    checked_cost = F.when(
        F.col(cost_col).isNull(),
        F.raise_error(
            F.lit(f"budget_select: cost_col {cost_col!r} contains NULL")
        ).cast("bigint"),
    ).otherwise(F.col(cost_col).cast("bigint"))
    cum, _ = global_prefix(
        df.withColumn("_cost", checked_cost),
        [F.col(score_col).desc(), F.col(id_col).asc()],
        out_col="cum_cost",
        value_col="_cost",
        num_partitions=num_partitions,
    )
    return cum.filter(F.col("cum_cost") <= F.lit(int(budget))).drop("_cost")


def mixture_budgets(weights: dict, total_budget: int) -> dict:
    """Convert domain mixture weights (e.g. ``temperature_mixture``
    output, or DoReMi-style reweighted domain proportions — public
    recipe, arXiv 2305.10429) into exact integer per-domain token
    budgets summing to ``total_budget``.

    Largest-remainder apportionment: floor every share, then hand the
    leftover tokens to the largest fractional remainders (ties broken
    by domain name for determinism). Shares and remainders are exact
    rationals (``fractions.Fraction`` over the weights' exact binary
    values — ADVICE r11: a float ``w/tot*budget`` can flip the
    remainder ranking by one token at near-tie boundaries), so the
    result IS the exact largest-remainder apportionment. Driver-side,
    domain-count-sized — the DoReMi regime is tens of domains."""
    from fractions import Fraction

    if total_budget < 0:
        raise ValueError("total_budget must be non-negative")
    if not weights:
        return {}
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    exact = {d: Fraction(w) for d, w in weights.items()}
    tot = sum(exact.values())
    if tot <= 0:
        raise ValueError("weights must sum to a positive value")
    shares = {d: w / tot * total_budget for d, w in exact.items()}
    out = {d: int(s) for d, s in shares.items()}  # Fraction floor (>= 0)
    leftover = total_budget - sum(out.values())
    by_rem = sorted(
        weights, key=lambda d: (-(shares[d] - out[d]), str(d))
    )
    for d in by_rem[:leftover]:
        out[d] += 1
    return out


def domain_budget_select(
    df: DataFrame,
    *,
    domain_col: str,
    score_col: str,
    cost_col: str,
    budgets: dict,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-domain token-budget curation — the step a mixture-aware
    pipeline runs after per-document scoring: WITHIN each domain,
    order rows by ``(score_col DESC, id_col ASC)`` and keep the prefix
    whose inclusive cumulative ``cost_col`` stays ≤ that domain's
    budget. Semantically ``SUM(cost) OVER (PARTITION BY domain ORDER
    BY score DESC, id) <= budgets[domain]`` — the DoReMi-style
    "give each domain its token share, fill each with its best
    documents" composition of ``mixture_budgets`` (or
    ``temperature_mixture`` weights) with ``budget_select``.

    Output: the kept rows plus ``cum_cost`` (the per-domain inclusive
    running total). Rows whose domain is ABSENT from ``budgets`` are
    dropped (budget 0) — pass an explicit entry to keep a domain.

    Scale shape: the per-domain running sum is ``grouped_prefix``
    (the C5 prefix sum, operators/materialize.py): a head domain splits
    across partitions instead of landing on one task.

    Determinism and cost contracts are ``budget_select``'s: the score
    must be engine-stable (exact-integer or pre-rounded) and costs
    must be NON-NULL (the first NULL raises).
    """
    if not budgets:
        raise ValueError("budgets must be non-empty")
    # _pid is the prefix-sum core's; listed here too so the error names
    # this op (pinned by test)
    _require_absent(df, ("_cost", "_pid", "cum_cost"), "domain_budget_select")
    from embeddinghub_spark.operators.materialize import grouped_prefix

    checked_cost = F.when(
        F.col(cost_col).isNull(),
        F.raise_error(
            F.lit(
                f"domain_budget_select: cost_col {cost_col!r} contains NULL"
            )
        ).cast("bigint"),
    ).otherwise(F.col(cost_col).cast("bigint"))
    cum = grouped_prefix(
        df.withColumn("_cost", checked_cost),
        [domain_col],
        [F.col(score_col).desc(), F.col(id_col).asc()],
        out_col="cum_cost",
        value_col="_cost",
        num_partitions=num_partitions,
    )
    budget_map = F.create_map(
        *[
            F.lit(x)
            for d, b in sorted(budgets.items(), key=lambda kv: str(kv[0]))
            for x in (d, int(b))
        ]
    )
    # absent domain → NULL budget → predicate false → dropped
    return cum.filter(
        F.col("cum_cost")
        <= F.element_at(budget_map, F.col(domain_col)).cast("bigint")
    ).drop("_cost")


def interleave_sources(
    df: DataFrame,
    key_cols: list[str],
    *,
    domain_col: str,
    weights: dict,
    seed: int = 42,
    share_scale: int = 1_000_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic proportional interleaving of domains into ONE
    training stream — the data-mixing step after per-domain curation
    (``domain_budget_select``): shuffle each domain with the
    ``shuffle_order`` md5 discipline, then merge the per-domain
    streams by stride scheduling so every prefix of the global order
    holds each domain in (integer-rounded) proportion to its mixture
    weight — GPT-3/Pile-style heterogeneous mixing, but as a frozen
    reproducible order instead of runtime sampler state.

    Mechanics: ``weights`` are apportioned to exact integer shares
    ``s_d`` summing to ``share_scale`` (``mixture_budgets``), each
    domain gets a within-domain 1-based ``domain_position`` ``p`` over
    the md5(keys|seed) permutation, and rows merge by the stride key
    ``(2p−1)·share_scale DIV s_d`` (the classic virtual-time stride
    scheduler — exact bigint arithmetic, ties broken by (domain, p) so
    the order is total and engine-replayable). ``position`` is the
    1-based rank in the merged stream. Domains absent from
    ``weights`` — or rounding to a zero share — are dropped; pass an
    explicit weight to keep a domain. A new ``seed`` is a new epoch.

    Scale shape: per-domain numbering is ``grouped_prefix`` and the
    merged rank ``global_prefix`` on the stride key (the C5 prefix
    sum, operators/materialize.py). Two range exchanges total — never
    a per-domain or global single-task sort.

    Overflow bound: the stride key is ≤ 2·rows·share_scale/s_d; with
    the default 1e6 scale, bigint holds past 10¹¹ rows per domain even
    at a 1-ppm share.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if share_scale <= 0:
        raise ValueError("share_scale must be positive")
    _require_absent(
        df,
        ("_h", "_share", "_stride", "domain_position", "position"),
        "interleave_sources",
    )
    from embeddinghub_spark.operators.materialize import (
        global_prefix,
        grouped_prefix,
    )

    shares = {
        d: s
        for d, s in mixture_budgets(weights, share_scale).items()
        if s > 0
    }
    if not shares:
        raise ValueError("weights apportion to zero shares")
    h = F.md5(
        F.concat_ws(
            "|", *[F.col(c).cast("string") for c in key_cols], F.lit(str(seed))
        )
    )
    share_map = F.create_map(
        *[
            F.lit(x)
            for d, s in sorted(shares.items(), key=lambda kv: str(kv[0]))
            for x in (d, int(s))
        ]
    )
    base = (
        df.withColumn("_h", h)
        .withColumn(
            "_share", F.element_at(share_map, F.col(domain_col)).cast("bigint")
        )
        .filter(F.col("_share").isNotNull())
    )
    numbered = (
        grouped_prefix(
            base,
            [domain_col],
            [F.col("_h").asc(), *[F.col(c).asc() for c in key_cols]],
            out_col="domain_position",
            num_partitions=num_partitions,
        )
        .withColumn(
            "_stride",
            F.expr(
                f"(2 * domain_position - 1) * {int(share_scale)}L DIV _share"
            ),
        )
        .drop("_h", "_share")
    )
    merged, _ = global_prefix(
        numbered,
        [F.col(c) for c in ["_stride", domain_col, "domain_position"]],
        out_col="position",
        num_partitions=num_partitions,
    )
    return merged.drop("_stride")


def shuffle_order(
    df: DataFrame,
    key_cols: list[str],
    *,
    seed: int = 42,
    shard_size: int = 1000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global training order + shard layout: every LLM
    training pipeline shuffles the curated corpus once and freezes the
    order (reproducible runs, resumable dataloaders). The order is
    ``md5(keys|seed)`` — the split.py hash discipline, so the exact
    permutation is replayable in any md5-bearing engine and stable
    across partitionings — and the 1-based ``position`` within it is
    ``global_prefix`` (the C5 prefix sum, operators/materialize.py): no
    single-partition global sort at any scale. ``shard = (position-1)
    DIV shard_size`` gives the contiguous shard assignment a sequential
    trainer reads.

    Re-shuffling per epoch = a new ``seed``. ``key_cols`` must be
    unique per row (they tie-break the astronomically-unlikely md5
    collision and make the order total).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if shard_size <= 0:
        raise ValueError("shard_size must be positive")
    _require_absent(df, ("_h", "position", "shard"), "shuffle_order")
    from embeddinghub_spark.operators.materialize import global_prefix

    h = F.md5(
        F.concat_ws(
            "|", *[F.col(c).cast("string") for c in key_cols], F.lit(str(seed))
        )
    )
    numbered, _ = global_prefix(
        df.withColumn("_h", h),
        [F.col(c) for c in ["_h", *key_cols]],
        out_col="position",
        num_partitions=num_partitions,
    )
    # integer DIV, never double division: (pos-1)/size then cast would
    # round through a double and can mis-assign the shard near
    # boundaries at extreme position magnitudes (> ~9e15).
    return numbered.withColumn(
        "shard", F.expr(f"(position - 1) DIV {int(shard_size)}")
    ).drop("_h")


def epoch_interleave(
    df: DataFrame,
    key_cols: list[str],
    *,
    domain_col: str,
    weights: dict,
    total_rows: int,
    max_epochs: int = 4,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Multi-epoch mixture streaming — ``interleave_sources`` for the
    data-constrained regime where a domain's quota EXCEEDS its corpus
    and trainers repeat it for several epochs (the public
    data-constrained-scaling recipe: repeating beyond ~4 epochs yields
    rapidly diminishing returns — Muennighoff et al., "Scaling
    Data-Constrained Language Models", NeurIPS 2023, arXiv
    2305.16264 — hence the ``max_epochs`` cap).

    Semantics: ``total_rows`` is apportioned into exact per-domain row
    quotas by ``mixture_budgets(weights, total_rows)``; each domain
    contributes ``K_d = min(quota_d, max_epochs · n_d)`` rows (``n_d``
    = the domain's corpus size), drawn as whole epochs of a FRESH
    md5(keys|seed|epoch) permutation per epoch (per-epoch reshuffle,
    the standard trainer behavior) with the final partial epoch taking
    a prefix of its permutation. The per-domain streams merge by the
    same exact-integer stride scheduler as ``interleave_sources`` —
    key ``(2·slot−1)·total_rows DIV quota_d`` — so every prefix of the
    global order holds domains in mixture proportion until a capped
    domain runs dry. Domains absent from ``weights`` (or apportioned
    zero rows) are dropped; weights naming absent domains simply
    shorten the realized stream.

    Output: input columns plus ``epoch`` (0-based), ``domain_position``
    (1-based rank within (domain, epoch)), ``slot`` (1-based index in
    the domain's repeated stream = epoch·n_d + domain_position), and
    ``position`` (1-based global rank in the merged stream).

    Scale shape (100 TB discipline): the epoch explode multiplies rows
    by at most ``max_epochs`` — linear in the REALIZED stream length,
    which is the output size. Per-(domain, epoch) numbering is
    ``grouped_prefix`` and the merged rank ``global_prefix`` on the
    stride key (the C5 prefix sum, operators/materialize.py). Besides
    the prefix-sum subtotals, the only collect is the one-row-per-domain
    size frame. Overflow: the stride key is ≤ 2·total_rows, far inside
    bigint.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if total_rows < 0:
        raise ValueError("total_rows must be non-negative")
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    _require_absent(
        df,
        ("_h", "_quota", "_stride", "epoch", "domain_position", "slot",
         "position"),
        "epoch_interleave",
    )
    from embeddinghub_spark.operators.materialize import (
        global_prefix,
        grouped_prefix,
    )

    quotas = {
        d: q
        for d, q in mixture_budgets(weights, int(total_rows)).items()
        if q > 0
    }
    if not quotas:
        raise ValueError("weights apportion to zero rows everywhere")

    def _lit_map(m: dict) -> Column:
        return F.create_map(
            *[
                F.lit(x)
                for d, v in sorted(m.items(), key=lambda kv: str(kv[0]))
                for x in (d, int(v))
            ]
        )

    base = (
        df.withColumn(
            "_quota",
            F.element_at(_lit_map(quotas), F.col(domain_col)).cast("bigint"),
        )
        .filter(F.col("_quota").isNotNull())
        .drop("_quota")
    )
    # one row per domain — bounded at any scale (DoReMi regime: tens)
    sizes = {
        r[0]: r[1]
        for r in base.groupBy(domain_col).count().collect()
    }
    if not sizes:
        return (
            base.withColumn("epoch", F.lit(0))
            .withColumn("domain_position", F.lit(0).cast("bigint"))
            .withColumn("slot", F.lit(0).cast("bigint"))
            .withColumn("position", F.lit(0).cast("bigint"))
        )
    kd = {
        d: min(quotas[d], int(max_epochs) * nd) for d, nd in sizes.items()
    }
    emax = {d: (kd[d] - 1) // sizes[d] for d in sizes}
    exploded = base.withColumn(
        "epoch",
        F.explode(
            F.sequence(
                F.lit(0), F.element_at(_lit_map(emax), F.col(domain_col))
            )
        ),
    )
    h = F.md5(
        F.concat_ws(
            "|",
            *[F.col(c).cast("string") for c in key_cols],
            F.lit(str(seed)),
            F.col("epoch").cast("string"),
        )
    )
    numbered = (
        grouped_prefix(
            exploded.withColumn("_h", h),
            [domain_col, "epoch"],
            [F.col("_h").asc(), *[F.col(c).asc() for c in key_cols]],
            out_col="domain_position",
            num_partitions=num_partitions,
        )
        .withColumn(
            "slot",
            (
                F.col("epoch")
                * F.element_at(_lit_map(sizes), F.col(domain_col))
                + F.col("domain_position")
            ).cast("bigint"),
        )
        .filter(
            F.col("slot")
            <= F.element_at(_lit_map(kd), F.col(domain_col)).cast("bigint")
        )
        .withColumn(
            "_quota",
            F.element_at(_lit_map(quotas), F.col(domain_col)).cast("bigint"),
        )
        # exact bigint stride key — integer DIV, never double division
        # (the shuffle_order shard lesson: a double round-trip can
        # mis-order keys at extreme magnitudes)
        .withColumn(
            "_stride",
            F.expr(f"(2 * slot - 1) * {int(total_rows)}L DIV _quota"),
        )
        .drop("_h", "_quota")
    )
    merged, _ = global_prefix(
        numbered,
        [F.col(c) for c in ["_stride", domain_col, "slot"]],
        out_col="position",
        num_partitions=num_partitions,
    )
    return merged.drop("_stride")


def length_buckets(
    df: DataFrame,
    *,
    n_tokens_col: str,
    batch_size: int,
    boundaries: list[int] | None = None,
    key_cols: list[str] | None = None,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Pad-efficient frozen batch formation: group documents into
    LENGTH BUCKETS (smallest boundary >= n_tokens), shuffle each
    bucket with the md5(keys|seed) discipline, and cut the frozen
    per-bucket order into fixed-size batches — the standard
    bucketed-batching recipe for eval / inference / padded training
    (sequences padded to the bucket boundary, so a batch wastes at
    most (boundary - shortest) tokens per row instead of padding the
    whole corpus to the global max).

    ``boundaries`` is a strictly-increasing list of inclusive token
    upper bounds (default: powers of two 16..8192). Documents LONGER
    than the last boundary land in the overflow bucket
    ``bucket_id = len(boundaries)`` with ``padded_len`` NULL — they
    still batch deterministically; the caller decides truncate /
    reject. ``n_tokens_col`` must be NON-NULL and non-negative — the
    first NULL or negative value raises at execution time (either
    would silently change every batch boundary behind it).

    Output: input columns plus ``bucket_id`` (0-based int),
    ``bucket_position`` (1-based rank within the bucket),
    ``batch_id`` = (bucket_position-1) DIV batch_size (0-based within
    the bucket — (bucket_id, batch_id) is the global batch key),
    ``batch_slot`` = (bucket_position-1) % batch_size (0-based),
    ``padded_len`` (the bucket boundary; NULL for overflow), and
    ``pad_waste`` = padded_len - n_tokens.

    Scale shape: per-bucket numbering is ``grouped_prefix`` (the C5
    prefix sum, operators/materialize.py), so a dominant bucket splits
    across partitions; everything else is map-side CASE arithmetic.
    """
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    if boundaries is None:
        boundaries = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192]
    bounds = [int(b) for b in boundaries]
    if not bounds or any(
        b2 <= b1 for b1, b2 in zip(bounds, bounds[1:])
    ) or bounds[0] < 1:
        raise ValueError("boundaries must be strictly increasing and >= 1")
    key_cols = list(key_cols or ("doc_id",))
    _require_absent(
        df,
        ("_h", "bucket_id", "bucket_position", "batch_id", "batch_slot",
         "padded_len", "pad_waste"),
        "length_buckets",
    )
    tok = F.col(n_tokens_col).cast("bigint")
    checked = F.when(
        tok.isNull() | (tok < 0),
        F.raise_error(
            F.lit(
                f"length_buckets: n_tokens_col {n_tokens_col!r} contains "
                "NULL or negative values"
            )
        ).cast("bigint"),
    ).otherwise(tok)
    # smallest boundary >= n_tokens, else the overflow bucket
    bucket = F.lit(len(bounds))
    for i in range(len(bounds) - 1, -1, -1):
        bucket = F.when(checked <= bounds[i], F.lit(i)).otherwise(bucket)
    pad_arr = F.array(*[F.lit(b).cast("bigint") for b in bounds])
    h = F.md5(
        F.concat_ws(
            "|", *[F.col(c).cast("string") for c in key_cols], F.lit(str(seed))
        )
    )
    from embeddinghub_spark.operators.materialize import grouped_prefix

    padded = F.when(
        F.col("bucket_id") < len(bounds),
        F.element_at(pad_arr, F.col("bucket_id") + 1),
    )
    return (
        grouped_prefix(
            df.withColumn("bucket_id", bucket).withColumn("_h", h),
            ["bucket_id"],
            [F.col("_h").asc(), *[F.col(c).asc() for c in key_cols]],
            out_col="bucket_position",
            num_partitions=num_partitions,
        )
        .withColumn(
            "batch_id",
            F.expr(f"(bucket_position - 1) DIV {int(batch_size)}"),
        )
        .withColumn(
            "batch_slot",
            (F.col("bucket_position") - 1) % F.lit(int(batch_size)),
        )
        .withColumn("padded_len", padded)
        .withColumn(
            "pad_waste", F.col("padded_len") - F.col(n_tokens_col).cast("bigint")
        )
        .drop("_h")
    )


def pack_bins(
    df: DataFrame,
    *,
    n_tokens_col: str,
    capacity: int,
    boundaries: list[int] | None = None,
    key_cols: list[str] | None = None,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Bin packing WITHOUT cross-document concatenation — the
    alternative to ``pack_sequences`` trainers use when attention
    contamination matters (best-fit packing: each document stays
    whole; several short documents share one ``capacity``-token
    sequence, separated by attention masking — the public
    fewer-truncations recipe, arXiv 2404.10830). True best-fit-
    decreasing is inherently sequential; this op packs the PADDED
    sizes optimally instead, with a construction that distributes:

    1. quantize each document to ``padded_len`` = the smallest
       boundary >= n_tokens (``length_buckets``' bucket rule);
    2. order by (padded_len DESC, md5(keys|seed), keys) — a frozen
       total order;
    3. global exclusive prefix sum of padded_len (``global_prefix``,
       the C5 prefix sum — never a single-partition window);
    4. ``bin_id = start DIV capacity``, ``bin_offset = start %
       capacity``.

    Because ``boundaries`` must form a DIVISIBILITY CHAIN whose last
    element divides ``capacity`` (each boundary divides the next —
    powers of two by default), every item's start offset is a
    multiple of its own padded size, so no item ever straddles a
    capacity boundary — each bin is filled to EXACTLY ``capacity``
    padded tokens except the last. That is the optimal bin count for
    the padded multiset: ``ceil(sum(padded_len) / capacity)`` bins,
    zero internal fragmentation. The packing cost is the quantization
    padding itself (``pad_waste`` accounts it per row), the same
    tradeoff ``length_buckets`` already makes.

    Documents LONGER than the last boundary land in the overflow
    class: ``padded_len``/``bin_id``/``bin_offset``/``pad_waste`` all
    NULL — the caller decides truncate / reject (packing an
    over-capacity document is undefined). ``n_tokens_col`` must be
    non-NULL and non-negative — the first violation raises at
    execution time (it would silently shift every bin behind it).

    Output: input columns plus ``padded_len``, ``bin_id`` (0-based
    bigint), ``bin_offset`` (0-based start inside the bin, in padded
    tokens) and ``pad_waste`` (= padded_len - n_tokens).

    Scale shape: one range exchange (the prefix sum) + map-side CASE
    arithmetic; the only driver-adjacent state is the partitions-sized
    offset array inside ``global_prefix``. Work is O(N log N by range
    exchange), independent of bin count.
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    if boundaries is None:
        # build the chain DOWN from capacity by halving (review find
        # r13: growing powers of two UP from 16 violates the
        # last-divides-capacity rule for any non-power-of-two
        # capacity, making the default-argument path unusable) — the
        # result always ends at capacity, so the chain divides it by
        # construction
        boundaries = [capacity]
        while boundaries[0] % 2 == 0 and boundaries[0] // 2 >= 16:
            boundaries.insert(0, boundaries[0] // 2)
    bounds = [int(b) for b in boundaries]
    if not bounds or bounds[0] < 1 or any(
        b2 <= b1 or b2 % b1 != 0 for b1, b2 in zip(bounds, bounds[1:])
    ):
        raise ValueError(
            "boundaries must be strictly increasing and form a "
            "divisibility chain (each divides the next)"
        )
    if capacity % bounds[-1] != 0:
        raise ValueError(
            f"last boundary {bounds[-1]} must divide capacity "
            f"{capacity} (the no-straddle alignment guarantee)"
        )
    key_cols = list(key_cols or ("doc_id",))
    # only the names THIS op injects — the prefix-sum core guards its
    # own internals
    _require_absent(
        df,
        ("_h", "_cum", "padded_len", "bin_id", "bin_offset", "pad_waste"),
        "pack_bins",
    )
    tok = F.col(n_tokens_col).cast("bigint")
    checked = F.when(
        tok.isNull() | (tok < 0),
        F.raise_error(
            F.lit(
                f"pack_bins: n_tokens_col {n_tokens_col!r} contains "
                "NULL or negative values"
            )
        ).cast("bigint"),
    ).otherwise(tok)
    padded = F.lit(None).cast("bigint")
    for b in reversed(bounds):
        padded = F.when(checked <= b, F.lit(b).cast("bigint")).otherwise(
            padded
        )
    h = F.md5(
        F.concat_ws(
            "|", *[F.col(c).cast("string") for c in key_cols],
            F.lit(str(seed)),
        )
    )
    # The quantized frame is read THREE times (the range partitioner's
    # sampling pass, the exchange itself, and the overflow branch of
    # the union) — checkpoint it once so an expensive upstream (a
    # token-count over raw text, typically a 1-2-split parquet scan)
    # is not recomputed per consumer. Lazy: the first job materializes.
    base = (
        df.withColumn("padded_len", padded)
        .withColumn("_h", h)
        .localCheckpoint(eager=False)
    )
    packable = base.filter(F.col("padded_len").isNotNull())
    overflow = base.filter(F.col("padded_len").isNull())

    from embeddinghub_spark.operators.materialize import global_prefix

    cum, _ = global_prefix(
        packable,
        [F.col("padded_len").desc(), F.col("_h").asc(),
         *[F.col(c).asc() for c in key_cols]],
        out_col="_cum",
        value_col="padded_len",
        num_partitions=num_partitions,
    )
    start = F.col("_cum") - F.col("padded_len")
    packed = (
        cum.withColumn(
            "bin_id", F.expr(f"(_cum - padded_len) DIV {int(capacity)}")
        )
        .withColumn("bin_offset", start % F.lit(int(capacity)))
        .withColumn("pad_waste", F.col("padded_len") - tok)
        .drop("_h", "_cum")
    )
    rest = (
        overflow.withColumn("bin_id", F.lit(None).cast("bigint"))
        .withColumn("bin_offset", F.lit(None).cast("bigint"))
        .withColumn("pad_waste", F.lit(None).cast("bigint"))
        .drop("_h")
    )
    return packed.unionByName(rest)


def training_stream(
    df: DataFrame,
    *,
    id_col: str,
    domain_col: str,
    score_col: str,
    cost_col: str,
    weights: dict,
    total_budget: int,
    max_seq_len: int,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """The END-TO-END training-data pipeline as one composition —
    curate → mix → pack, each stage the already-certified operator:

    1. ``mixture_budgets(weights, total_budget)`` apportions the
       corpus-wide token budget into exact per-domain budgets;
    2. ``domain_budget_select`` keeps each domain's best documents by
       ``score_col`` until its budget fills (per-domain C5 prefix);
    3. ``interleave_sources`` merges the kept domains into one frozen
       md5-shuffled stream in mixture proportion (stride scheduler);
    4. ``pack_sequences`` lays the stream end-to-end and cuts it into
       ``max_seq_len``-token training sequences, documents spanning
       boundaries (the GPT concat-and-chunk recipe).

    Output: one row per (document × sequence) slice — ``id_col``,
    ``domain_col``, ``score_col``, the token count as ``n_tokens``,
    ``position`` (rank in the mixed stream), ``seq_id``,
    ``seq_offset``, ``doc_offset``, ``slice_len``.

    Scale shape: the composition inherits each stage's discipline —
    three range exchanges total (per-domain budget prefix, interleave
    merge rank, packing prefix-sum), every offset frame bounded by
    (partitions × domains) or partitions, no new machinery. The
    stages share the cost column: the packer consumes the same
    ``cost_col`` the budgeter metered, so kept-token accounting and
    sequence tiling agree by construction.

    Contracts are the union of the stages': non-NULL costs, no
    reserved-column collisions, weights must apportion a positive
    share somewhere. Docs from domains absent in ``weights`` drop at
    the budget stage; zero-token docs drop at the packing stage.
    """
    if cost_col != "n_tokens" and "n_tokens" in df.columns:
        raise ValueError(
            "training_stream: the cost column is standardized to "
            "'n_tokens' in the output, but the input already has an "
            f"unrelated 'n_tokens' column next to cost_col={cost_col!r}; "
            "rename one first"
        )
    kept = domain_budget_select(
        df,
        domain_col=domain_col,
        score_col=score_col,
        cost_col=cost_col,
        budgets=mixture_budgets(weights, int(total_budget)),
        id_col=id_col,
        num_partitions=num_partitions,
    ).drop("cum_cost")
    mixed = interleave_sources(
        kept,
        [id_col],
        domain_col=domain_col,
        weights=weights,
        seed=seed,
        num_partitions=num_partitions,
    ).drop("domain_position")
    from embeddinghub_spark.functions.text import pack_sequences

    packed = pack_sequences(
        mixed.withColumnRenamed(cost_col, "n_tokens"),
        order_cols=["position"],
        n_tokens_col="n_tokens",
        max_seq_len=int(max_seq_len),
        id_col=id_col,
        num_partitions=num_partitions,
    )
    return packed.select(
        id_col, domain_col, score_col, "n_tokens", "position", "seq_id",
        "seq_offset", "doc_offset", "slice_len",
    )


def mixture_report(
    df: DataFrame,
    *,
    domain_col: str,
    position_col: str = "position",
    weights: dict,
    n_slices: int = 10,
) -> DataFrame:
    """Mixture observability: did the frozen training stream actually
    hit its target proportions — in EVERY slice, not just overall?
    Cuts the stream (``interleave_sources`` / ``epoch_interleave``
    output, or any 1..N ``position_col``) into ``n_slices`` contiguous
    position ranges and reports, per (slice, domain), the realized
    share against the ``mixture_budgets`` target in exact
    parts-per-million — the audit a data-loading pipeline runs before
    a training job burns compute on a mis-mixed stream (the
    ``skew_report`` / ``validate_rules`` ops-tooling family).

    Output: ``(slice_id, domain, n_rows, realized_ppm, target_ppm,
    deviation_ppm)`` — slice_id 0-based; realized_ppm =
    n_rows·10⁶ DIV slice_rows (integer DIV, engine-exact);
    deviation_ppm = |realized − target|. Domains in the stream but
    not in ``weights`` report target_ppm 0 (their presence IS the
    deviation); weighted domains absent from a slice produce no row
    (count 0 is visible as the other domains' surplus).

    Scale shape: one map-side slice assignment
    (``(position−1)·n_slices DIV N`` — N rides the sanctioned
    broadcast-of-a-one-row-aggregate crossJoin), one
    (slice × domain)-grain count aggregate with map-side combine, and
    a broadcast join of the (n_slices)-row slice totals. Never
    exchanges the stream itself.
    """
    if n_slices < 1:
        raise ValueError("n_slices must be >= 1")
    _require_absent(
        df,
        ("slice_id", "n_rows", "realized_ppm", "target_ppm",
         "deviation_ppm", "_N", "_slice_rows"),
        "mixture_report",
    )
    targets = mixture_budgets(weights, 1_000_000) if weights else {}
    target_map = (
        F.create_map(
            *[
                F.lit(x)
                for d, t in sorted(targets.items(), key=lambda kv: str(kv[0]))
                for x in (d, int(t))
            ]
        )
        if targets
        else None
    )
    n_row = df.agg(F.max(F.col(position_col)).cast("bigint").alias("_N"))
    # broadcast-of-a-one-row-aggregate: the repo's sanctioned crossJoin
    sliced = df.crossJoin(F.broadcast(n_row)).withColumn(
        "slice_id",
        F.expr(f"({position_col} - 1) * {int(n_slices)} DIV _N").cast("int"),
    )
    counts = sliced.groupBy("slice_id", domain_col).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    slice_tot = counts.groupBy("slice_id").agg(
        F.sum("n_rows").alias("_slice_rows")
    )
    out = (
        counts.join(F.broadcast(slice_tot), "slice_id")
        .withColumn(
            "realized_ppm", F.expr("n_rows * 1000000 DIV _slice_rows")
        )
        .withColumn(
            "target_ppm",
            (
                F.coalesce(
                    F.element_at(target_map, F.col(domain_col)), F.lit(0)
                ).cast("bigint")
                if target_map is not None
                else F.lit(0).cast("bigint")
            ),
        )
        .withColumn(
            "deviation_ppm",
            F.abs(F.col("realized_ppm") - F.col("target_ppm")),
        )
        .drop("_slice_rows")
    )
    return out
