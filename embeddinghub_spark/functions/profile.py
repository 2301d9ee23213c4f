"""Table profiling: the data-quality summary a pipeline runs before
training (and what the reference dashboard surfaces per source —
source stats in `metadata/proto/metadata.proto` SourceVariant; our
engine computes them in one pass instead of sampling).

One aggregate job over the table produces every column's profile:
row/null/distinct counts and min/max. The count(distinct) set uses
Spark's expand-based multi-distinct aggregate (one exchange with
partial aggregation — the f8_count_distinct plan); at 100 TB swap
``exact_distinct=False`` to run HyperLogLog ``approx_count_distinct``
instead, which collapses the expand entirely.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, TimestampNTZType, TimestampType

_TS_FMT = "yyyy-MM-dd HH:mm:ss"

# ---------------------------------------------------------------------
# Sketch core. Each sketch's register/bin column, merge and estimate is
# written once here and used by the batch sketches below, the streaming
# stores (streaming/distinct_by, cms_by, psi_monitor), the PIT feature
# (operators/pit.trailing_distinct_features) and the stateful worker
# (streaming/windows.trailing_distinct_counter); the DuckDB oracles
# replay the same arithmetic verbatim.
# ---------------------------------------------------------------------

# HyperLogLog register geometry: md5 supplies the hash — 3 hex chars
# (12 bits) pick the register, the next 13 hex chars (52 bits) feed the
# leading-zero rank, so every quantity is exact integer arithmetic
# until one final scalar division.
_HLL_BUCKET_HEX = 3
_HLL_VALUE_HEX = 13
_HLL_VALUE_BITS = 4 * _HLL_VALUE_HEX  # 52
_HLL_RHO_CAP = _HLL_VALUE_BITS + 1  # 53: rho for a 0-valued suffix
# The harmonic-mean denominator S = Σ 2^(53 - rho) + empties·2^53
# reaches m·2^53, past 2^63 from p = 11 on (p = 10 in an empty PIT
# window): it is summed exactly in DECIMAL(38,0), then cast to double
# once.
_EXACT = "decimal(38,0)"


def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constant for m >= 128 registers."""
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_check(df: DataFrame | None, col: str | None, p: int, op: str) -> None:
    """Construction-time guards of every HLL entry point: ``p`` in
    [7, 12] (bucket bits fit the 12 hash bits reserved for them and
    m >= 128 keeps ``_hll_alpha`` valid), and no fractional ``col`` —
    values hash as their string rendering, exact for
    integer/string/bool/date but engine-specific for floats (Spark
    renders 1e20 as '1.0E20', Python as '1e+20')."""
    if not 7 <= p <= 12:
        raise ValueError(f"p={p} outside [7, 12]")
    if col is None:
        return
    dt = df.schema[col].dataType
    if dt.typeName() in ("float", "double", "decimal"):
        raise ValueError(
            f"{op}: column {col!r} is {dt.simpleString()}; fractional "
            "string renderings are engine-specific — hash a stable "
            "encoding instead"
        )


def _hll_merge(rho: str) -> list[Column]:
    """The register merge feeding the estimate: ``_s_used``, the exact
    Σ 2^(53 - rho) over used registers, and ``_used``, their count. A
    NULL ``rho`` (a probe that matched no register) counts as empty."""
    term = F.expr(f"shiftleft(1L, {_HLL_RHO_CAP} - {rho})").cast(_EXACT)
    return [
        F.coalesce(F.sum(term), F.lit(0).cast(_EXACT)).alias("_s_used"),
        F.count(rho).alias("_used"),
    ]


def _hll_estimate_cols(p: int) -> tuple[Column, Column]:
    """``(estimate, n_empty_buckets)`` over the ``_hll_merge`` columns:
    alpha·m²·2^53 / S, switched to linear counting m·ln(m/empties)
    while the raw estimate is <= 2.5·m and a register is empty, round 3
    (HALF_UP). ``_hll_estimate`` is its Python twin."""
    m = 1 << p
    empties = (F.lit(m) - F.col("_used")).cast("bigint")
    s_total = F.col("_s_used") + empties.cast(_EXACT) * F.lit(
        1 << _HLL_RHO_CAP
    ).cast(_EXACT)
    c1 = _hll_alpha(m) * m * m * float(1 << _HLL_RHO_CAP)
    raw = F.lit(c1) / s_total.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (empties > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / empties.cast("double")),
    ).otherwise(raw)
    return F.round(est, 3), empties


def _hll_estimate(rhos, p: int) -> float:
    """Python twin of ``_hll_estimate_cols`` over the max rho of each
    used register, before the round (Python ints are exact, so S needs
    no care)."""
    rhos = list(rhos)
    m = 1 << p
    empties = m - len(rhos)
    s_total = sum(1 << (_HLL_RHO_CAP - r) for r in rhos) + empties * (
        1 << _HLL_RHO_CAP
    )
    raw = _hll_alpha(m) * m * m * float(1 << _HLL_RHO_CAP) / float(s_total)
    if raw <= 2.5 * m and empties > 0:
        return m * math.log(m / float(empties))
    return raw


def _hll_estimate_by(registers: DataFrame, group_cols: list[str], p: int) -> DataFrame:
    """``(*group_cols, approx_ndv, n_empty_buckets)`` from a
    ``hll_register_frame`` table (or any union of them: registers
    merge by max)."""
    est, empties = _hll_estimate_cols(p)
    return (
        registers.groupBy(*group_cols)
        .agg(*_hll_merge("max_rho"))
        .select(
            *group_cols,
            est.alias("approx_ndv"),
            empties.alias("n_empty_buckets"),
        )
    )


def _cms_check(depth: int, width: int) -> None:
    """Count-min guards: width=0 would surface as a modulo-by-zero deep
    in the exchange, depth=0 as a silently empty sketch."""
    if depth < 1 or width < 1:
        raise ValueError(
            f"count-min sketch needs depth/width >= 1 (got {depth}/{width})"
        )


def _cms_rows(tok: Column, depth: int, width: int) -> Column:
    """The ``depth`` counter buckets of a token, as an array indexed by
    row: row d hashes ``'{d}:' || token`` (md5-prefix bigint) mod
    ``width``."""
    from embeddinghub_spark.functions.dedup import _md5_long

    return F.array(*[
        _md5_long(F.concat(F.lit(f"{d}:"), tok)) % width for d in range(depth)
    ])


def _with_bounds(df: DataFrame, bounds: DataFrame, keys: list[str]) -> DataFrame:
    """Attach the broadcast bounds: per group on ``keys``, else the
    one row."""
    b = F.broadcast(bounds)
    return df.join(b, keys) if keys else df.crossJoin(b)


def _bin_counts(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    bounds: DataFrame,
    n_bins: int,
) -> DataFrame:
    """``(*keys, _bin, _cnt)``: the non-NULL values of ``value_col`` (as
    double) counted per equal-width bin of the ``[_lo, _hi]`` grid in
    ``bounds``. Out-of-range values clamp to the edge bins; a
    degenerate grid (``_hi == _lo``) puts everything in bin 0. Counts
    merge by +, and the exchange carries <= |groups| × n_bins rows per
    task."""
    lo, hi = F.col("_lo"), F.col("_hi")
    width = (hi - lo) / F.lit(float(n_bins))
    bin_ = F.when(hi == lo, F.lit(0)).otherwise(
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(n_bins - 1),
                F.floor((F.col("_x") - lo) / width).cast("int"),
            ),
        )
    )
    x = df.select(*keys, F.col(value_col).cast("double").alias("_x"))
    return (
        _with_bounds(x.filter(F.col("_x").isNotNull()), bounds, keys)
        .select(*keys, bin_.alias("_bin"))
        .groupBy(*keys, "_bin")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )


def _quantile_pick(
    bins: DataFrame,
    bounds: DataFrame,
    keys: list[str],
    quantiles: list[float],
    n_bins: int,
) -> DataFrame:
    """``(*keys, quantile, value)`` from ``(*keys, _bin, _cnt)`` counts
    on the ``bounds`` grid ``(*keys, _lo, _hi, _n)``: each q
    interpolates linearly inside the first bin whose cumulative count
    reaches q·n, clamped to ``_hi`` and rounded to 6 (HALF_UP); a
    degenerate grid answers ``_lo``. The windows run on the bin frame
    (<= |groups| × n_bins rows), never the data."""
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    w = Window.partitionBy(*keys).orderBy("_bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = _with_bounds(
        bins.withColumn("_cum", F.sum("_cnt").over(w)).withColumn(
            "_cum_before", F.col("_cum") - F.col("_cnt")
        ),
        bounds,
        keys,
    )
    qdf = bins.sparkSession.createDataFrame(
        [(float(q),) for q in sorted(quantiles)], "quantile double"
    )
    hits = (
        cum.crossJoin(F.broadcast(qdf))
        .withColumn("_t", F.col("quantile") * F.col("_n").cast("double"))
        .filter(F.col("_cum").cast("double") >= F.col("_t"))
    )
    pick = Window.partitionBy(*keys, "quantile").orderBy("_bin")
    est = (
        F.col("_lo")
        + F.col("_bin").cast("double") * width
        + F.when(
            F.col("_cnt") > 0,
            (F.col("_t") - F.col("_cum_before").cast("double"))
            / F.col("_cnt").cast("double")
            * width,
        ).otherwise(F.lit(0.0))
    )
    return (
        hits.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            *keys,
            F.col("quantile"),
            F.round(
                F.when(F.col("_hi") == F.col("_lo"), F.col("_lo")).otherwise(
                    F.least(F.col("_hi"), est)
                ),
                6,
            ).alias("value"),
        )
    )


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Per-column profile: one row per column with
    ``(column, n_rows, n_nulls, n_distinct, min_num, max_num,
    min_str, max_str)``.

    Numeric columns fill the ``_num`` pair (cast to double);
    timestamp columns are formatted to second precision and string
    columns compared as-is into the ``_str`` pair. Everything is
    computed in a SINGLE aggregate (no per-column jobs, no driver
    loops over data); the per-column rows are unstacked from the one
    result row with ``stack`` — a 1×(6·C) projection, not a shuffle.
    """
    cols = columns or df.columns
    # the exact multi-distinct aggregate expands rows x|distinct aggs|
    # before the exchange — pure map work, so when the scan yields
    # fewer splits than cores (one small parquet file locally) fan the
    # pruned input out first; never fires on a many-split cluster scan
    sc = df.sparkSession.sparkContext
    pruned = df.select(*cols)
    if exact_distinct and pruned.rdd.getNumPartitions() < sc.defaultParallelism:
        pruned = pruned.repartition(sc.defaultParallelism)
    df = pruned
    nd = (
        (lambda c: F.countDistinct(F.col(c)))
        if exact_distinct
        else (lambda c: F.approx_count_distinct(c))
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        dt = df.schema[c].dataType
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        aggs.append(nd(c).alias(f"_nd_{c}"))
        if isinstance(dt, NumericType):
            aggs.append(F.min(F.col(c)).cast("double").alias(f"_min_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"_max_{c}"))
        elif isinstance(dt, (TimestampType, TimestampNTZType)):
            aggs.append(
                F.date_format(F.min(F.col(c)), _TS_FMT).alias(f"_min_{c}")
            )
            aggs.append(
                F.date_format(F.max(F.col(c)), _TS_FMT).alias(f"_max_{c}")
            )
        else:
            s = F.col(c).cast("string")
            aggs.append(F.min(s).alias(f"_min_{c}"))
            aggs.append(F.max(s).alias(f"_max_{c}"))
    one = df.agg(*aggs)

    def piece(c: str) -> str:
        is_num = isinstance(df.schema[c].dataType, NumericType)
        mn, mx = f"`_min_{c}`", f"`_max_{c}`"
        num_pair = f"{mn}, {mx}" if is_num else "cast(null as double), cast(null as double)"
        str_pair = "cast(null as string), cast(null as string)" if is_num else f"{mn}, {mx}"
        return (
            f"'{c}', _n, _n - `_nn_{c}`, cast(`_nd_{c}` as bigint), "
            f"{num_pair}, {str_pair}"
        )

    stacked = ", ".join(piece(c) for c in cols)
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stacked}) AS "
            "(column, n_rows, n_nulls, n_distinct, "
            "min_num, max_num, min_str, max_str)"
        )
    ).select(
        "column", "n_rows", "n_nulls", "n_distinct",
        "min_num", "max_num", "min_str", "max_str",
    )


def hll_profile(df: DataFrame, columns: list[str] | None = None, p: int = 9) -> DataFrame:
    """Per-column approximate distinct counts via an EXPLICIT
    HyperLogLog sketch (Flajolet/Fusy/Gandouet/Meunier 2007) built
    from deterministic md5 registers — the scale path
    ``profile_table``'s docstring promises: where the exact
    multi-distinct pays an expand-based exchange carrying every
    distinct value, this carries at most ``columns × 2^p`` register
    rows regardless of table size, and the registers of disjoint
    table shards MERGE by max — the sketch is algebraic, so a 100 TB
    scan is one map-side-combining aggregate with a fixed-size state.

    Unlike ``approx_count_distinct`` (whose HLL++ register hash is a
    JVM implementation detail), every intermediate here is exact
    integer arithmetic on md5 nibbles — bucket = first 12 hash bits
    (mod m), rank = leading zeros of the next 52 bits via
    ``length(bin(v))`` (string-exact, no float log) — so the sketch,
    and therefore the estimate, is bit-replayable by any engine with
    md5 (the DuckDB oracle replays it verbatim). The harmonic-mean
    denominator is the exact bigint ``sum(2^(53 - max_rho))``
    (bounded by m·2^53 < 2^63); the only floating point is the final
    alpha·m²·2^53 / S division plus the small-range linear-counting
    correction, both rounded to 3 decimals.

    Columns are hashed as their string rendering: exact for
    integer/string/bool/date columns; float columns would couple the
    estimate to each engine's double formatting, so reject them.

    Output: ``(column, approx_ndv, n_empty_buckets)``, one row per
    profiled column. Standard error ≈ 1.04/√m (~4.6% at p=9).
    """
    cols = columns or df.columns
    for c in cols:
        _hll_check(df, c, p, "hll_profile")
    pairs = F.array(*[
        F.struct(
            F.lit(c).alias("column"), F.col(c).cast("string").alias("val")
        )
        for c in cols
    ])
    # The register build is pure map work that the explode inflates
    # x|columns| — when the scan yields fewer splits than cores (one
    # small parquet file locally), fan the INPUT out first so the
    # hashing isn't serialized on a handful of tasks. On a real
    # cluster the scan has >= cores splits and this branch never
    # fires, so no shuffle is added at scale (and the register
    # exchange itself always stays <= columns x m rows per task,
    # map-side combined). Measured 4.9 s -> ~1.5 s for 600k rows x 4
    # columns at sf0.1.
    sc = df.sparkSession.sparkContext
    df = df.select(*cols)  # prune BEFORE any fan-out shuffle
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    exploded = df.select(F.explode(pairs).alias("_pair")).select(
        F.col("_pair.column").alias("column"), F.col("_pair.val").alias("val")
    )
    return _hll_estimate_by(
        hll_register_frame(exploded, ["column"], "val", p), ["column"], p
    )


def hll_register_frame(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int,
) -> DataFrame:
    """The md5-register HLL build shared by every sketch in the repo
    (``hll_distinct_by``, ``streaming/distinct_by``, and the PIT
    ``trailing_distinct_features``): per (group..., bucket), the max
    rho of the hashed values — ONE definition of the register recipe
    so the protocol (bucket from the first {bucket_hex} hex chars,
    rho from the next {value_hex}) can never desynchronize between
    the batch sketch, the streaming twin, and the PIT feature (and
    their oracles). Output: ``(*group_cols, bucket, max_rho)`` —
    one map-side-combined exchange, ≤ |groups| × 2^p rows.

    md5 and the 52-bit rank value are each materialized ONCE via
    chained projections (an alias referenced more than once blocks
    CollapseProject from inlining it): sibling expressions re-evaluated
    the hash 3x per row — measured 6.2 s -> 4.9 s warm for 600k rows x
    4 columns in ``hll_profile`` at sf0.1.
    """
    m = 1 << p
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            F.md5(F.col(value_col).cast("string")).alias("_h"),
        )
        .select(
            *group_cols,
            F.expr(
                f"pmod(cast(conv(substr(_h, 1, {_HLL_BUCKET_HEX}), 16, 10)"
                f" as bigint), {m})"
            ).alias("bucket"),
            F.expr(
                f"cast(conv(substr(_h, {_HLL_BUCKET_HEX + 1},"
                f" {_HLL_VALUE_HEX}), 16, 10) as bigint)"
            ).alias("_v"),
        )
        .select(
            *group_cols,
            "bucket",
            F.when(F.col("_v") == 0, F.lit(_HLL_RHO_CAP))
            .otherwise(F.lit(_HLL_VALUE_BITS + 1) - F.length(F.bin("_v")))
            .alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_distinct_by(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 9,
) -> DataFrame:
    """Approximate distinct ``value_col`` PER GROUP — the grouped
    form of ``hll_profile`` (distinct users per source, distinct
    documents per language...) using the same explicit md5-register
    HyperLogLog protocol, so the estimate is bit-replayable by any
    md5-bearing engine.

    Why not ``count(distinct)``: at 100 TB an exact grouped distinct
    exchanges every distinct (group, value) pair — output ∝ data.
    Here each task's partial state is at most ``|groups| × 2^p``
    register rows merged by MAX (algebraic, partial-aggregation-order
    independent like the whole sketch family), so the exchange width
    is fixed per group regardless of row count, and whale groups cost
    the same as small ones — no skew surface at all.

    Same float-rendering guard as ``hll_profile``: the value column
    is hashed via its string rendering, exact for
    integer/string/bool/date; float values are rejected.

    Output: ``(*group_cols, approx_ndv, n_empty_buckets)``, one row
    per observed group (groups whose every value is NULL are absent,
    matching ``count(distinct)`` returning 0 rows of support).
    Standard error ≈ 1.04/√(2^p).
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    _hll_check(df, value_col, p, "hll_distinct_by")
    return _hll_estimate_by(
        hll_register_frame(df, group_cols, value_col, p), group_cols, p
    )


def dataset_fingerprint(
    df: DataFrame,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Order-insensitive content fingerprint of a dataset — the
    reproducibility anchor a training run records next to its model
    artifact ("trained on data whose fingerprint was X"), and the
    cheap equality probe between two copies of a table (replicas,
    pre/post-migration) without a row-level diff.

    Each row renders to the canonical string protocol (``'|'``-joined
    values, NULLs as '∅' — the ``skew_report`` convention), hashes to
    a 60-bit md5 prefix, and the fingerprint is the EXACT SUM of row
    hashes as DECIMAL(38,0) — commutative and associative, so any
    partitioning, any aggregation order, and any engine produce the
    same digits (unlike an XOR fold, duplicate rows do not cancel;
    unlike a sorted-concat hash, no global sort is needed). One
    map-side-combined aggregate; the exchange is one decimal row per
    partition at any table size.

    Output: one row ``(n_rows, fingerprint)`` with the fingerprint as
    a decimal string of the sum. Collisions are ~birthday-bounded on
    60-bit row hashes — an integrity probe, not a cryptographic
    commitment.
    """
    cols = key_cols or df.columns
    if not cols:
        raise ValueError("dataset has no columns to fingerprint")
    row = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in cols]
    )
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("decimal(38,0)")
    return df.select(h.alias("_h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum("_h"), F.lit(0).cast("decimal(38,0)"))
        .cast("string")
        .alias("fingerprint"),
    )


def dataset_fingerprint_by(
    df: DataFrame,
    group_cols: list[str],
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group content fingerprints — ``dataset_fingerprint`` keyed
    by source/date/shard, so when two copies of a 100 TB table
    disagree the DIVERGING group is named by a |groups|-row compare
    instead of a table-wide diff. Same exact decimal-sum protocol
    (and the same additivity: the group sums total to the whole-table
    fingerprint — pinned by test). Grouping columns are excluded from
    the hashed content by default so the digest describes the rows,
    not the grouping.

    Output: ``(*group_cols, n_rows, fingerprint)``.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    cols = key_cols or [c for c in df.columns if c not in group_cols]
    if not cols:
        raise ValueError("no content columns left to fingerprint")
    row = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in cols]
    )
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("decimal(38,0)")
    return (
        df.select(*group_cols, h.alias("_h"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_h").cast("string").alias("fingerprint"),
        )
    )


def histogram_quantiles(
    df: DataFrame,
    col: str,
    quantiles: list[float],
    n_bins: int = 128,
) -> DataFrame:
    """Approximate quantiles via a fixed-width histogram sketch — the
    deterministic scale path beside ``approx_percentile`` (whose
    KLL/GK internals are engine-specific and not oracle-replayable):
    two aggregate passes, a bounded ``n_bins``-row exchange, and a
    worst-case error of one bin width ((max-min)/n_bins).

    Pass 1 computes (min, max, n) — one row, broadcast back. Pass 2
    bins every value by exact double arithmetic
    ``floor((x - min)/width)`` (clamped to the last bin) and counts
    per bin with map-side combine; the exchange carries at most
    ``n_bins`` rows per task regardless of table size, and bin counts
    merge by + — the sketch is algebraic like `hll_profile`. Each
    requested q then interpolates linearly inside the first bin whose
    cumulative count reaches q·n. Every intermediate is either an
    exact bigint count or a double computed identically by any
    IEEE-754 engine, so the DuckDB oracle replays it bit-for-bit
    (rounded to 6).

    Output: ``(quantile, value)``, one row per requested q,
    ascending. Degenerate column (max == min) returns that value for
    every q.

    BATCH-ONLY (ADVICE r16): the bounds frame localCheckpoints, so a
    streaming DataFrame raises AnalysisException here — compose
    streaming callers through foreachBatch (this constraint is shared
    by robust_scale/_by, winsorize, quantiles_by_group and
    perplexity_buckets, which embed this sketch).
    """
    return _histogram_quantiles(df, [], col, quantiles, n_bins).orderBy(
        "quantile"
    )


def histogram_quantiles_by(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    quantiles: list[float],
    n_bins: int = 128,
) -> DataFrame:
    """Approximate quantiles PER GROUP via the fixed-width histogram
    sketch — p50/p95 per event type, length quantiles per source —
    the grouped form of ``histogram_quantiles`` with the same
    deterministic, oracle-replayable arithmetic and the same
    one-bin-width error bound per group.

    Scale shape: pass 1 is one aggregate keyed by the group (min,
    max, n per group — |groups| rows, broadcast back); pass 2 bins
    every value with exact double arithmetic and counts per
    (group, bin) with map-side combine — the exchange carries at most
    ``|groups| × n_bins`` rows per task regardless of table size, and
    bin counts merge by + (algebraic). The cumulative window and the
    quantile pick then run on the BIN FRAME (≤ |groups| × n_bins
    rows), never the data, so a whale group costs exactly what a
    small one does — no per-group data sort anywhere.

    Output: ``(*group_cols, quantile, value)`` — one row per
    (observed group, requested q), groups with only-NULL values
    absent; a degenerate group (max == min) returns that value for
    every q.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    return _histogram_quantiles(df, group_cols, col, quantiles, n_bins)


def _histogram_quantiles(
    df: DataFrame,
    keys: list[str],
    col: str,
    quantiles: list[float],
    n_bins: int,
) -> DataFrame:
    """The histogram quantile sketch per ``keys`` group (one group when
    ``keys`` is empty): bounds pass, ``_bin_counts``,
    ``_quantile_pick``."""
    if not quantiles or not all(0.0 < q <= 1.0 for q in quantiles):
        raise ValueError("quantiles must be in (0, 1]")
    c = F.col(col).cast("double")
    # the bounds frame (one row per group) is referenced by the bin
    # join and the pick, and by every downstream composition
    # (robust_scale embeds this whole sketch twice); without the lazy
    # checkpoint each reference re-plans and re-executes the full
    # (min, max, n) pass over df — robust_scale's physical plan carried
    # 80 Exchanges / 40 CartesianProducts of repeated subtrees
    mm = (
        df.groupBy(*keys)
        .agg(F.min(c).alias("_lo"), F.max(c).alias("_hi"), F.count(c).alias("_n"))
        .filter(F.col("_n") > 0)
        .localCheckpoint(eager=False)
    )
    return _quantile_pick(
        _bin_counts(df, keys, col, mm, n_bins), mm, keys, quantiles, n_bins
    )


def cms_topk(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 512,
    k: int = 20,
) -> DataFrame:
    """Heavy-hitter token counts via an EXPLICIT count-min sketch
    (Cormode/Muthukrishnan 2005) — the bounded-state frequency
    companion to ``hll_profile``'s distinct sketch: where an exact
    token count pays an exchange carrying every DISTINCT token, the
    sketch exchange carries at most ``depth × width`` counter rows
    regardless of vocabulary size, and counters of disjoint shards
    MERGE by + (algebraic), so a 100 TB scan is one
    map-side-combining aggregate with fixed state.

    Hashing is the repo-standard md5-prefix bigint (row d hashes
    ``'{d}:' || token``), so every counter — and therefore every
    estimate — is exact integer arithmetic replayable by the DuckDB
    oracle verbatim. Estimate(t) = min over rows of the counter t
    hashes into; CMS guarantees estimate >= exact always and
    estimate <= exact + eps·N with prob 1-delta for
    width = e/eps, depth = ln(1/delta) (pinned by a small-width
    property test — at production widths collisions among heavy
    tokens are rare and the estimate is typically exact).

    The result reports the true top-``k`` tokens (exact pass — at
    scale the candidate set comes from a lexicon or a per-shard
    candidate stream; here the exact pass doubles as the
    verification baseline) with both exact and sketch counts, so the
    overestimate is directly observable:
    ``(token, exact_count, cms_estimate, overestimate)``.

    Scale shape — 3 exchanges, none carrying text wider than one
    token: (1) sketch aggregate, ≤ depth·width rows per task;
    (2) exact token counts (map-side combine, one row per distinct
    token); (3) the top-k TakeOrdered (no global sort — Spark plans
    orderBy+limit as TakeOrderedAndProject). The k-row probe side is
    broadcast against the sketch.
    """
    _cms_check(depth, width)
    if k < 1:
        raise ValueError(f"cms_topk needs k >= 1 (got {k})")
    from embeddinghub_spark.functions.text import tokens

    # Per-token counts FIRST (one pass, map-side partial aggregation),
    # then everything downstream works on the DISTINCT vocabulary:
    # the 4 md5 bucket hashes run once per distinct token instead of
    # once per occurrence (summing tf per bucket == counting
    # occurrences per bucket — exact integer identity), and the
    # checkpoint that feeds both the sketch and the top-k (standing
    # self-join decision: no cross-side CSE in Spark) caches |vocab|
    # rows instead of every token occurrence (r17, §1.2/§5).
    tf = (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("exact_count"))
        .localCheckpoint(eager=False)
    )
    sketch = (
        tf.select(
            F.col("exact_count").alias("_tf"),
            F.posexplode(
                _cms_rows(F.col("tok"), depth, width)
            ).alias("row", "bucket"),
        )
        .groupBy("row", "bucket")
        .agg(F.sum("_tf").alias("c"))
    )
    exact = tf.orderBy(F.col("exact_count").desc(), "tok").limit(k)
    probe = exact.select(
        "tok",
        "exact_count",
        F.posexplode(
            _cms_rows(F.col("tok"), depth, width)
        ).alias("row", "bucket"),
    )
    return (
        sketch.join(F.broadcast(probe), ["row", "bucket"])
        .groupBy("tok", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            F.col("tok").alias("token"),
            F.col("exact_count").cast("bigint").alias("exact_count"),
            F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )


def _bloom_positions(key_col: str, m_bits: int, k_hashes: int):
    """The k md5 bit positions of a key — ONE definition shared by
    build and probe (any drift between the two would silently break
    the no-false-negative guarantee), with the parameter validation
    both sides need: a probe whose (m_bits, k_hashes) differ from
    the build's hashes to different positions and returns false
    negatives, so both ends validate eagerly; keeping the two calls
    in one code path (and, for on-disk filters, a params sidecar a
    la the gram index) is the caller's contract."""
    if m_bits < 32 or m_bits % 32 != 0:
        raise ValueError("m_bits must be a positive multiple of 32")
    if k_hashes < 1:
        raise ValueError("k_hashes must be >= 1")
    from embeddinghub_spark.functions.dedup import _md5_long

    return F.explode(
        F.array(
            *[
                (
                    _md5_long(
                        F.concat(F.lit(f"{j}:"), F.col(key_col).cast("string"))
                    )
                    % m_bits
                )
                for j in range(k_hashes)
            ]
        )
    ).alias("_pos")


def bloom_build(
    keys_df: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 4,
) -> DataFrame:
    """Explicit Bloom filter over a key set — the membership sketch
    completing this module's family (HLL = distinct, CMS =
    frequency, histogram = quantiles): ``m_bits`` bits as 32-bit
    lanes, each key setting ``k_hashes`` md5-derived positions.
    Lanes merge by bitwise OR (algebraic), so building over a 100 TB
    key scan is one map-side-combining aggregate whose exchange
    carries at most m_bits/32 lane rows per task; the finished
    filter is <= m_bits/32 rows — broadcastable anywhere a cheap
    "definitely not in the set" pre-filter saves a join (the classic
    decontamination / CDC-probe gate).

    32-bit lanes (not 64) keep every word a positive bigint — no
    sign-bit shift edge to disagree on across engines. All md5
    arithmetic is the repo protocol, so the exact filter replays in
    the oracle. Output: (lane, word).
    """
    return (
        keys_df.select(_bloom_positions(key_col, m_bits, k_hashes))
        .select(
            F.floor(F.col("_pos") / 32).cast("bigint").alias("lane"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 32 AS INT))").alias("_bit"),
        )
        .groupBy("lane")
        .agg(F.bit_or("_bit").alias("word"))
    )


def bloom_probe(
    candidates_df: DataFrame,
    bloom_df: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 4,
) -> DataFrame:
    """Membership probe against a ``bloom_build`` filter:
    ``maybe_member`` is true iff ALL ``k_hashes`` positions are set —
    NO false negatives ever; false-positive rate ≈
    (1 - e^(-k·n/m))^k (callers confirm positives with the exact
    join the filter just spared them on the negatives). The filter
    side is <= m_bits/32 rows and broadcast; the probe is map-only
    plus one per-candidate aggregate.

    Output: the candidate rows plus ``maybe_member``. ALL candidate
    rows come back, including NULL-key rows: a NULL key can never
    have been inserted (``bloom_build`` derives no positions from
    NULL), so those rows carry ``maybe_member = false`` — the
    rejoin is null-safe rather than a plain equi-join that would
    silently drop them.
    """
    reqs = candidates_df.select(
        F.col(key_col), _bloom_positions(key_col, m_bits, k_hashes)
    ).select(
        F.col(key_col),
        F.floor(F.col("_pos") / 32).cast("bigint").alias("lane"),
        (F.col("_pos") % 32).cast("int").alias("_bit"),
    )
    hit = F.expr(
        "CAST(shiftright(coalesce(word, CAST(0 AS BIGINT)), _bit) & 1 AS INT)"
    )
    per_key = (
        reqs.join(F.broadcast(bloom_df), "lane", "left")
        .select(F.col(key_col), hit.alias("_hit"))
        .groupBy(key_col)
        # min() ignores NULLs, so a NULL-key group (every _hit NULL)
        # yields NULL — coalesce it to the documented false
        .agg(
            F.coalesce(F.min("_hit") == 1, F.lit(False)).alias("maybe_member")
        )
    )
    # deliver the documented contract: the CANDIDATE ROWS (all their
    # columns, duplicates included, NULL keys included) plus the flag
    pk = per_key.withColumnRenamed(key_col, "_bp_key")
    return (
        candidates_df.join(
            pk, F.col(key_col).eqNullSafe(F.col("_bp_key"))
        ).drop("_bp_key")
    )


def bottomk_sketch_by(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Bottom-k (KMV) sketch per group: the ``k`` smallest md5 hashes
    of the group's DISTINCT values — the classic mergeable
    distinct-value sample (Bar-Yossef et al. 2002) that powers
    cross-group set-overlap estimation (``group_overlap``).

    Whale-immune: distinct (group, value) pairs hash map-side, then
    the two-stage top-k recipe caps each task's contribution at k per
    group BEFORE the exchange — a group with a billion values ships
    tasks·k rows, same as a tiny one. The hash is the repo md5→60-bit
    protocol, so the exact sketch replays in any md5-bearing engine.

    Output: ``(group_col, h)`` — ≤ k rows per group, h the hash
    (values themselves are not retained; overlap estimation only
    needs hash identity).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from embeddinghub_spark.operators.split import _two_stage_topk

    hashed = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col),
            F.expr(
                f"CAST(conv(substr(md5(CAST({value_col} AS STRING)), 1, 15),"
                f" 16, 10) AS BIGINT)"
            ).alias("h"),
        )
        .distinct()
    )
    return _two_stage_topk(hashed, group_col, k, [F.col("h").asc()]).select(
        group_col, "h"
    )


def group_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Pairwise Jaccard-overlap matrix between groups' value sets
    from bottom-k sketches — "how much do two crawl sources share?"
    without ever joining the full value sets: for each group pair the
    estimator takes the k smallest hashes of the UNION of the two
    sketches and reports the fraction present in BOTH (the standard
    KMV coincidence estimator; deterministic given the md5 hashes, so
    the whole matrix is oracle-replayable).

    Scale shape: the sketch build is the whale-immune two-stage top-k
    (see ``bottomk_sketch_by``); everything after runs on sketch rows
    only — ≤ |groups|·k rows fan out to ≤ |groups|²·k pair-rows, with
    per-pair windows over ≤ 2k rows. The |groups|² term is the
    honest cost of a full overlap MATRIX and stays trivial for the
    catalog-sized group counts (sources, languages, shards) this
    answers for; it never touches the data again.

    Output: ``(group_a, group_b, est_jaccard)`` for group_a <
    group_b (string order), est_jaccard rounded to 6.
    """
    sk = bottomk_sketch_by(df, group_col, value_col, k).localCheckpoint(
        eager=False
    )
    a = sk.select(F.col(group_col).alias("group_a"), "h")
    b = sk.select(F.col(group_col).alias("group_b"), "h")
    pairs = (
        a.select("group_a")
        .distinct()
        .join(b.select("group_b").distinct())
        .filter(F.col("group_a") < F.col("group_b"))
    )
    # union of the two sketches per pair, with membership flags
    ua = pairs.join(a, "group_a").select(
        "group_a", "group_b", "h", F.lit(1).alias("_in_a"), F.lit(0).alias("_in_b")
    )
    ub = pairs.join(b, "group_b").select(
        "group_a", "group_b", "h", F.lit(0).alias("_in_a"), F.lit(1).alias("_in_b")
    )
    merged = (
        ua.unionByName(ub)
        .groupBy("group_a", "group_b", "h")
        .agg(F.max("_in_a").alias("in_a"), F.max("_in_b").alias("in_b"))
    )
    w = Window.partitionBy("group_a", "group_b").orderBy("h")
    topu = merged.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    return (
        topu.groupBy("group_a", "group_b")
        .agg(
            F.round(
                F.sum((F.col("in_a") * F.col("in_b")).cast("double"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("est_jaccard")
        )
    )


def bloom_prefilter_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Inner equi-join with a Bloom pre-filter pushed to the probe
    side — the runtime-filter pattern a 100 TB scan wants when the
    build side is selective: build the ``bloom_build`` lane table
    over the right side's keys (one map-side-combining aggregate,
    ≤ m_bits/32 rows), broadcast it into a map-only ``bloom_probe``
    over the left side, drop definite non-members BEFORE the join
    shuffle, then run the exact join on the survivors. No false
    negatives ⇒ the result is EXACTLY the plain inner join; false
    positives only cost a little extra shuffle, tuned by ``m_bits``
    (fp ≈ (1 − e^(−k·n/m))^k). This is what engines call a runtime
    bloom filter / semi-join reduction, here explicit and composable
    (Spark's own `spark.sql.optimizer.runtimeFilter.bloomFilter` can
    only inject it for suitable shapes; this operator guarantees it).
    NULL join keys never equi-match and are dropped with the
    non-members.
    """
    from embeddinghub_spark.functions.vector import ensure_parallelism

    bloom = bloom_build(right.select(on), on, m_bits, k_hashes)
    # the probe is a k_hashes-md5-per-row map stage: fan a few-split
    # scan out to all cores (identity at cluster scale) — interleaved
    # A/B at sf0.1: 3.8 s -> 2.0 s
    probed = bloom_probe(
        ensure_parallelism(left), bloom, on, m_bits, k_hashes
    )
    return (
        probed.filter(F.col("maybe_member"))
        .drop("maybe_member")
        .join(right, on)
    )
