"""C15: deterministic train/test split.

Reference (ClickHouse is the only provider implementing it —
``provider/clickhouse.go:1103-1155``): shuffle rows by a seeded hash
of the row number, mark the first ``total*test_size`` of the shuffled
order as test:

    is_test = row_number() OVER (ORDER BY cityHash64(concat(_row, seed)))
              <= total * test_size

We keep the hash-based scheme for cross-run determinism but use
``md5`` as the hash: Spark and DuckDB both implement md5 with
identical output (cityHash64/xxhash64 have no cross-engine twin), so
the oracle can replay the exact split. Serving protocol:
``serving/serving.go:125-288``; client
``client/src/featureform/train_test_split.py:121-219``.

Scale: no global sort is materialized — the rank threshold needs only
a count; we compare the hash against the empirical quantile computed
from a total count + window-free percent_rank equivalent. To stay
exact (reference counts rows, not approximate), we rank with a global
row_number over the hash — ``global_prefix`` (operators/materialize.py,
the C5 prefix sum) when exactness matters, or the
``hash < threshold`` variant for the streaming-friendly path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _row_hash(key_cols: list[str], seed: int):
    """Deterministic per-row hash: md5(concat_ws('|', keys, seed)).
    Identical bytes in Spark and DuckDB → oracle-replayable."""
    return F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols], F.lit(str(seed))))


def with_split(
    df: DataFrame,
    test_size: float,
    seed: int = 0,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Add ``is_test`` (0/1): exact count-based split like the
    reference (first ``ceil(total*test_size)`` rows of the
    hash-shuffled order are test — clickhouse.go:1118-1130).

    ``key_cols`` defaults to all columns (the reference hashes the
    physical row number; hashing row content is deterministic under
    re-partitioning too, which the row-number variant is not).
    """
    keys = key_cols or df.columns
    hashed = df.withColumn("_h", _row_hash(keys, seed))
    from embeddinghub_spark.operators.materialize import global_prefix

    # single pass: the numbering's prefix-sum already yields the total
    ranked, total = global_prefix(
        hashed, [F.col(c) for c in ["_h", *keys]], out_col="_split_rn"
    )
    n_test = int(total * test_size)
    return (
        ranked.withColumn("is_test", (F.col("_split_rn") <= n_test).cast("int"))
        .drop("_h", "_split_rn")
    )


def train_test_split(
    df: DataFrame,
    test_size: float,
    seed: int = 0,
    key_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Return (train, test) DataFrames (client-side API shape —
    train_test_split.py:121-219)."""
    marked = with_split(df, test_size, seed, key_cols)
    train = marked.filter(F.col("is_test") == 0).drop("is_test")
    test = marked.filter(F.col("is_test") == 1).drop("is_test")
    return train, test


def entity_split(
    df: DataFrame,
    entity_cols: list[str],
    test_size: float,
    seed: int = 0,
) -> DataFrame:
    """Leakage-safe BY-ENTITY train/test split: every row of the same
    entity lands on the same side, so a user/document/session can
    never teach the model in train and grade it in test — the grouped
    sibling of ``with_split`` (which shuffles rows) and
    ``temporal_split`` (which cuts on time). This is the split every
    per-entity feature pipeline actually needs: row-level splits leak
    whenever two rows of one entity share information.

    Assignment is a pure map: ``is_test = (md5(entity|seed) as a
    60-bit int) mod 10⁶ < test_size·10⁶`` — deterministic,
    repartition-stable, engine-replayable (the mm_phash hex→bigint
    protocol), and ZERO shuffles at any scale (no entity frame, no
    join; the hash IS the assignment). The test fraction is therefore
    approximate over ENTITIES (binomial, not count-exact — the price
    of atomicity; a count-exact variant would need an entity-level
    numbering plus a join back). Weighting by rows-per-entity is the
    caller's choice of hash key.

    Output: the input plus ``is_test`` (0/1).
    """
    if not entity_cols:
        raise ValueError("entity_cols must be non-empty")
    if not 0.0 <= test_size <= 1.0:
        raise ValueError("test_size must be in [0, 1]")
    h = F.conv(
        F.substring(F.md5(_key_concat(entity_cols, seed)), 1, 15), 16, 10
    ).cast("bigint")
    thresh = int(round(test_size * 1_000_000))
    return df.withColumn("is_test", (h % 1_000_000 < thresh).cast("int"))


def _key_concat(key_cols: list[str], seed: int):
    return F.concat_ws(
        "|", *[F.col(c).cast("string") for c in key_cols], F.lit(str(seed))
    )


def sample_mixture(
    df: DataFrame,
    strata_col: str,
    weights: dict,
    target_rows: int,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Domain-mixture sampling: downsample each stratum (source /
    domain / language) so the output approximates ``target_rows`` rows
    distributed by ``weights`` — the static data-mixture step of a
    training pipeline (sample web-heavy corpora down, keep code/books
    at full weight, etc.).

    Per-stratum rate = min(1, target·wᵢ/Σw / countᵢ) — sampling is
    without replacement, so an exhausted stratum clamps at keeping
    everything (the mixture is then best-effort, the standard
    behavior). Rates come from ONE bounded groupBy-count (|strata|
    rows to the driver); the sample itself reuses the md5-uniform
    protocol of ``stratified_sample`` — map-only, partition-layout-
    independent, exactly replayable in any md5-bearing engine.
    """
    if target_rows < 0:
        raise ValueError("target_rows must be >= 0")
    total_w = float(sum(weights.values()))
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    counts = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).count().collect()  # |strata| rows
    }
    fractions = {}
    for stratum, w in weights.items():
        want = target_rows * float(w) / total_w
        have = counts.get(stratum, 0)
        fractions[stratum] = min(1.0, want / have) if have else 0.0
    return stratified_sample(df, strata_col, fractions, key_cols, seed)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling — class-balanced
    corpus downsampling (e.g. cap over-represented languages/sources
    in a training mix).

    A row is kept iff ``u < fractions[stratum]`` where ``u`` is a
    28-bit uniform derived from ``md5(keys|seed)`` — the repo's
    standard cross-engine hash protocol, so the EXACT sample (not just
    its size) is replayable in any md5-bearing engine and stable
    across runs, partitionings, and cluster sizes; rows whose stratum
    is absent from ``fractions`` are dropped. Unlike ``df.sampleBy``
    (seeded per-partition RNG), the result does not change when the
    input repartitions — at 100 TB that property is what makes the
    sample reproducible at all. Map-only: one scan-adjacent filter,
    zero shuffles.
    """
    u = (
        F.conv(F.substring(_row_hash(key_cols, seed), 1, 7), 16, 10).cast(
            "bigint"
        )
        / F.lit(float(1 << 28))
    )
    frac = F.create_map(
        *[
            c
            for k, v in sorted(fractions.items())
            for c in (F.lit(k), F.lit(float(v)))
        ]
    )[F.col(strata_col)]
    return df.filter(u < frac)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Keep AT MOST ``k`` rows per group, chosen deterministically by
    the md5 hash protocol — the exact-cap complement to rate-based
    ``stratified_sample`` ("cap every domain/source at K docs" in a
    mixture, where a rate can't guarantee the ceiling).

    Selection is the first k of the group's rows ordered by
    ``md5(keys|seed)`` (ties broken by the keys) — uniform within the
    group, stable across runs/partitionings/cluster sizes, and
    exactly replayable by any md5-bearing engine.

    Scale shape: two-stage top-k (the `_topk_per_query` recipe) —
    a partition-LOCAL row_number caps each task's contribution at k
    per group BEFORE the exchange, so a whale group ships at most
    tasks·k rows instead of its full population; the global window
    then ranks ≤ tasks·k rows per group. One hash exchange on the
    group key.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    h = _row_hash(key_cols, seed)
    order = [F.col("_h").asc()] + [F.col(c).asc() for c in key_cols]
    return _two_stage_topk(df.withColumn("_h", h), group_col, k, order).drop(
        "_h"
    )


def _two_stage_topk(df: DataFrame, group_col: str, k: int, order: list) -> DataFrame:
    """Whale-immune per-group top-k (the `_topk_per_query` recipe): a
    partition-LOCAL row_number caps each task's contribution at k per
    group BEFORE the exchange — a whale group ships at most tasks·k
    rows instead of its population — then the global per-group window
    ranks <= tasks·k survivors. One hash exchange on the group key.
    Shared by ``cap_per_group`` and ``weighted_sample`` (one place a
    prune fix lands)."""
    staged = df.withColumn("_pid", F.spark_partition_id())
    w_local = Window.partitionBy("_pid", group_col).orderBy(*order)
    pruned = staged.withColumn("_lr", F.row_number().over(w_local)).filter(
        F.col("_lr") <= k
    )
    w_global = Window.partitionBy(group_col).orderBy(*order)
    return (
        pruned.withColumn("_gr", F.row_number().over(w_global))
        .filter(F.col("_gr") <= k)
        .drop("_pid", "_lr", "_gr")
    )


def weighted_sample(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k: int,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group — the
    Efraimidis–Spirakis A-Res scheme (Inf. Proc. Letters 2006):
    every row draws key ``u^(1/w)`` (u uniform from the md5 hash
    protocol, w = its weight) and the k largest keys win, which
    selects rows with probability proportional to weight without
    replacement. Equivalent (and better conditioned) ordering used
    here: the k SMALLEST ``-ln(u)/w``. The importance-weighted cousin
    of ``cap_per_group``'s uniform cap — "keep 100k docs per source,
    favoring the long/high-quality ones" in a mixture build.

    Determinism protocol: u = (h+1)/(2^28+1) from ``md5(keys|seed)``
    (never 0, so ln is finite), the E-S key rounded to 9 decimals,
    ties broken by the key columns — the exact sample is replayable
    in any md5-bearing engine and invariant to partitioning, like
    every sampler in this module. Rows with NULL or non-positive
    weight are excluded (their inclusion probability is 0/undefined).

    Scale shape: identical to ``cap_per_group`` — two-stage top-k
    (partition-local row_number caps each task at k per group before
    the exchange, so whale groups ship tasks·k rows, not their
    population; one hash exchange on the group key).
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    u = (
        F.conv(F.substring(_row_hash(key_cols, seed), 1, 7), 16, 10).cast(
            "bigint"
        )
        + 1
    ) / F.lit(float((1 << 28) + 1))
    ek = F.round(-F.log(u) / F.col(weight_col).cast("double"), 9)
    order = [F.col("_ek").asc()] + [F.col(c).asc() for c in key_cols]
    keyed = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("_ek", ek)
    return _two_stage_topk(keyed, group_col, k, order).drop("_ek")


def negative_samples(
    ids_df: DataFrame,
    anchors_df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    anchor_col: str = "anchor_id",
    positives: DataFrame | None = None,
    seed: int = 42,
) -> DataFrame:
    """Deterministic negative sampling for contrastive/triplet
    training data: each anchor draws ``k`` pseudo-random candidates
    from the id corpus — positions ``md5(anchor|j|seed) mod N`` into
    a global ordering of the ids — then known positives (and the
    anchor itself) are excluded. Draw collisions and exclusions mean
    UP TO k negatives per anchor (the standard sample-then-filter
    semantics; callers needing exactly k over-draw and rank).

    The id corpus is positioned by ``global_prefix`` (C5) — no
    single-partition global window, so the position table
    parallelizes at any corpus size; requests are |anchors|·k rows
    joined to it on position (AQE broadcasts the request side while
    it fits). The md5 protocol makes the exact sample replayable in
    any engine and invariant to partitioning — the property that
    matters when the negatives ship to a training job that must be
    reproducible.

    Output: (anchor, neg_id), distinct.
    """
    from embeddinghub_spark.operators.materialize import global_prefix

    if k < 1:
        raise ValueError("k must be >= 1")
    numbered, n = global_prefix(
        ids_df.select(id_col).distinct(), [F.col(id_col)], out_col="_pos"
    )
    if n == 0:
        raise ValueError("ids_df is empty — nothing to sample")
    pos = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col(anchor_col).cast("string"),
                        F.col("_j").cast("string"),
                        F.lit(str(seed)),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % n
        + 1
    )
    requests = (
        anchors_df.select(anchor_col)
        .distinct()
        .select(
            F.col(anchor_col),
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("_j"),
        )
        .select(F.col(anchor_col), pos.alias("_pos"))
    )
    drawn = (
        requests.join(numbered, "_pos")
        .select(F.col(anchor_col), F.col(id_col).alias("neg_id"))
        .filter(F.col(anchor_col) != F.col("neg_id"))
        .distinct()
    )
    if positives is not None:
        drawn = drawn.join(
            positives.select(
                F.col(anchor_col), F.col(id_col).alias("neg_id")
            ),
            [anchor_col, "neg_id"],
            "left_anti",
        )
    return drawn


def kfold_assign(
    df: DataFrame,
    n_folds: int,
    key_cols: list[str],
    seed: int = 0,
) -> DataFrame:
    """Deterministic k-fold assignment: ``fold`` ∈ [0, n_folds) from
    the md5 of the row's keys — map-only, stable under repartitioning
    and re-runs (the md5-uniform protocol of ``stratified_sample``),
    and exactly replayable cross-engine. Rows with equal keys land in
    the same fold (group-aware CV when keyed by entity). Fold sizes
    are binomially balanced, not exact-count balanced — the price of
    a stateless map-only assignment (exact balancing needs the global
    numbering of C5)."""
    if n_folds < 2:
        raise ValueError("n_folds must be >= 2")
    h = _row_hash(key_cols, seed)
    bucket = F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % n_folds
    return df.withColumn("fold", bucket.cast("int"))


def temporal_split(
    df: DataFrame,
    ts_col: str,
    test_frac: float,
    embargo_seconds: int | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Leakage-safe time-based split: the LAST ``test_frac`` of rows
    by timestamp become ``test``, rows within ``embargo_seconds``
    before the test cutoff become ``embargo`` (excluded from both
    sides — the purge window that stops rolling-feature leakage
    across the boundary), everything earlier is ``train``. The complement of a random split for
    time-series evaluation: random splits leak future information
    into training; this split never does (validate_pit audits the
    same property on externally-built frames).

    The cutoff is COUNT-exact, not quantile-approximate: rows are
    globally numbered over (ts, *order_cols) by ``global_prefix``
    (C5, no single-partition window), and the
    first ``total − ceil(total·test_frac)`` rows are the train+
    embargo side — deterministic under ties when ``order_cols``
    complete the ordering. The test boundary timestamp is then the
    min ts of the test side (one bounded scalar); the embargo start
    is computed DRIVER-side and compared as a TIMESTAMP_NTZ literal —
    no engine interval arithmetic, so the result is
    session-timezone-independent (the repo's NTZ discipline).

    Output: df's columns plus ``split`` ∈ {'train','embargo','test'}.
    """
    if not 0.0 < test_frac < 1.0:
        raise ValueError("test_frac must be in (0, 1)")
    import math

    from embeddinghub_spark.operators.materialize import global_prefix

    order = [F.col(c) for c in [ts_col, *(order_cols or [])]]
    numbered, total = global_prefix(df, order, out_col="_trn")
    n_test = math.ceil(total * test_frac)
    boundary = total - n_test  # rows with _trn > boundary are test
    marked = numbered.withColumn(
        "split",
        F.when(F.col("_trn") > boundary, F.lit("test")).otherwise(
            F.lit("train")
        ),
    )
    if embargo_seconds is not None:
        if embargo_seconds < 0:
            raise ValueError("embargo_seconds must be >= 0")
        import datetime as _dt

        cut = (
            marked.filter(F.col("split") == "test")
            .agg(F.min(ts_col).alias("c"))
            .collect()[0]["c"]
        )
        if cut is not None:
            emb_start = cut - _dt.timedelta(seconds=embargo_seconds)
            lit = F.expr(
                "TIMESTAMP_NTZ '{}'".format(
                    emb_start.strftime("%Y-%m-%d %H:%M:%S.%f")
                )
            )
            marked = marked.withColumn(
                "split",
                F.when(
                    (F.col("split") == "train")
                    & (F.col(ts_col) >= lit),
                    F.lit("embargo"),
                ).otherwise(F.col("split")),
            )
    return marked.drop("_trn")


def temperature_mixture(
    df: DataFrame,
    strata_col: str,
    alpha: float,
    target_rows: int,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Temperature-weighted mixture sampling: stratum weights are
    ``countᵢ^alpha`` instead of hand-set — ``alpha = 1`` reproduces
    the natural distribution, ``alpha = 0`` equalizes strata, and the
    0 < alpha < 1 band is the standard LLM-corpus reweighting (the
    multilingual/source-balancing exponent of the big-model data
    recipes): over-represented sources shrink, long-tail sources
    keep share, without anyone hand-tuning a weights dict.

    Rates derive from ONE bounded groupBy-count (|strata| rows to the
    driver; same scalar discipline as ``sample_mixture``); the sample
    itself is the md5-uniform protocol of ``stratified_sample`` —
    map-only, partition-stable, exactly replayable cross-engine
    (``pow`` on doubles is IEEE-identical in any engine, and the
    kept-row rule compares the same 28-bit uniforms).
    """
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    if target_rows < 0:
        raise ValueError("target_rows must be >= 0")
    counts = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).count().collect()
        if r[0] is not None
    }
    total_w = sum(float(c) ** alpha for c in counts.values())
    if total_w <= 0:
        return df.filter(F.lit(False))
    fractions = {}
    for stratum, have in counts.items():
        want = target_rows * (float(have) ** alpha) / total_w
        # round-12 so a last-ulp pow/summation difference between this
        # driver-side computation and an oracle's SQL replay cannot
        # flip a keep decision at the rate boundary
        fractions[stratum] = (
            round(min(1.0, want / have), 12) if have else 0.0
        )
    return stratified_sample(df, strata_col, fractions, key_cols, seed)
