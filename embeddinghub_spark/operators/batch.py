"""C14: batch features join — N materializations full-outer-joined on
entity with COALESCE'd entity key.

Reference: ``provider/spark.go:390-421`` (``createJoinQuery``), driver
``:261-352``: each feature contributes ``(entity, value, ts)``; the
batch table is ``COALESCE(e1, e2, …) AS entity`` with one value (+
optional ts) column per feature.

Scale: full-outer joins all shuffle on entity — Spark reuses the
hash partitioning across the chained joins (Exchange reuse), so the
chain is one shuffle per input, not per pair. Materializations are
per-entity-latest (bounded by |entities|), typically small enough
that AQE converts later joins to broadcast.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def batch_features(
    materializations: dict[str, DataFrame],
    include_ts: bool = False,
) -> DataFrame:
    """Full-outer join materializations on entity.

    ``materializations`` maps output column name → a C3/C4 output
    DataFrame with columns (entity, value, ts).
    """
    if not materializations:
        raise ValueError("batch_features needs at least one materialization")

    prepared = []
    for i, (out_name, m) in enumerate(materializations.items()):
        cols = [F.col("entity").alias(f"_e{i}"), F.col("value").alias(out_name)]
        if include_ts:
            cols.append(F.col("ts").alias(f"{out_name}__ts"))
        prepared.append(m.select(*cols))

    def join_pair(acc_with_idx, nxt_with_idx):
        (acc, i), (nxt, j) = acc_with_idx, nxt_with_idx
        cond = F.col(f"_e{i}") == F.col(f"_e{j}")
        joined = acc.join(nxt, cond, "full_outer").withColumn(
            f"_e{i}", F.coalesce(F.col(f"_e{i}"), F.col(f"_e{j}"))
        ).drop(f"_e{j}")
        return (joined, i)

    acc, idx = reduce(join_pair, [(df, i) for i, df in enumerate(prepared)])
    return acc.withColumnRenamed(f"_e{idx}", "entity").select(
        "entity", *[c for c in acc.columns if c != f"_e{idx}"]
    )


def scale_features(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Per-group z-score and min-max scaling of a numeric feature —
    the standard batch normalization step before training.

    Plan: one grouped aggregate (map-side partial) computes
    (mean, stddev_samp, min, max) per group — a stats table bounded by
    |groups| — then a join back that AQE broadcasts while it fits.
    Never a per-row window over the full table: a window partitioned
    by a low-cardinality group key would put entire groups on single
    reducers (the skew the aggregate+broadcast-join shape avoids).

    Degenerate groups pin conventions: zero stddev → z = NULL;
    constant min==max → minmax = NULL. Results rounded so engines
    agree to the digit.
    """
    gcols = list(group_cols or [])
    v = F.col(value_col).cast("double")
    stats = df.groupBy(*gcols).agg(
        F.avg(v).alias("_mu"),
        F.stddev_samp(v).alias("_sd"),
        F.min(v).alias("_mn"),
        F.max(v).alias("_mx"),
    )
    joined = df.join(stats, gcols) if gcols else df.crossJoin(stats)
    z = F.when(F.col("_sd") > 0, (v - F.col("_mu")) / F.col("_sd"))
    mm = F.when(
        F.col("_mx") > F.col("_mn"),
        (v - F.col("_mn")) / (F.col("_mx") - F.col("_mn")),
    )
    return joined.select(
        *df.columns,
        F.round(z, decimals).alias(f"{value_col}_zscore"),
        F.round(mm, decimals).alias(f"{value_col}_minmax"),
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Range/interval containment join: every (point, interval) pair
    with ``start ≤ point ≤ end`` (inclusive both ends), optionally
    also equi-matched on ``keys``. Position columns are numeric —
    convert dates/timestamps first (``datediff``/``unix_micros``),
    which keeps the bucket arithmetic engine-portable.

    A naive theta-join (``ON p BETWEEN s AND e``) is a broadcast
    nested loop — O(|points|·|intervals|) compares, a scale killer.
    This is the standard bucketed range join instead: each point maps
    to ONE bucket of width ``bucket_width``; each interval explodes
    into the buckets it spans; the join becomes an equi-join on
    (keys…, bucket) plus an exact containment filter. Each matching
    pair appears exactly once (the point side is never exploded), so
    no dedup pass is needed.

    Choose ``bucket_width`` ≈ the typical interval length: replication
    is ceil(len/W)+1 per interval, while bucket population (join fan-
    in) shrinks as W does. Long outlier intervals amplify linearly —
    split them upstream or raise W; hot buckets are ordinary equi-join
    skew, which AQE's runtime skew split handles (or ``salted_join``
    where AQE can't).
    """
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    keys = list(keys or [])
    w = int(bucket_width)
    pt = points.withColumn(
        "_bkt",
        F.floor(F.col(point_col).cast("double") / F.lit(w)).cast("bigint"),
    )
    iv = intervals.filter(F.col(start_col) <= F.col(end_col)).withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col).cast("double") / F.lit(w)).cast(
                    "bigint"
                ),
                F.floor(F.col(end_col).cast("double") / F.lit(w)).cast(
                    "bigint"
                ),
            )
        ),
    )
    return (
        pt.join(iv, keys + ["_bkt"])
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("_bkt")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join, result-identical to
    ``big.join(small, on, how)`` (pinned by oracle): the big side gets
    a deterministic salt in [0, n_salts) hashed from ALL its columns,
    the small side is exploded ×n_salts, and the join key becomes
    (on…, salt) — a hot key's rows spread over n_salts reducers
    instead of one.

    This is the manual fallback for engines/paths where AQE's runtime
    skew-join split can't help (e.g. a skewed key feeding a
    sort-merge join whose partitions AQE won't subdivide, or
    pre-AQE clusters). Cost: the small side is replicated n_salts× —
    keep it the dimension side. ``how`` supports inner/left (the
    salted small side never introduces or drops matches: every
    (key, salt) pair exists on the small side)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts)
    ).cast("int")
    b = big.withColumn("_salt", salt)
    s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return b.join(s, on + ["_salt"], how).drop("_salt")


def join_fanout_profile(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    top_k: int = 10,
) -> DataFrame:
    """Pre-flight profile of an equi-join: per-side key cardinalities
    and the EXACT join output size ``Σ_k count_L(k)·count_R(k)`` —
    computed from the two per-key count aggregates (rows = distinct
    keys per side), never by running the join. At 100 TB this is the
    cheap question to ask before the expensive one: a single hot key
    with 10⁶ rows on each side adds 10¹² output rows, and this
    profile names it before the shuffle does.

    Output: one summary row (``key = NULL``) with
    ``(left_rows, right_rows, left_keys, right_keys, output_rows)``
    followed by the ``top_k`` keys by per-key output contribution —
    ``(key, left_rows, right_rows, output_rows)`` with the key
    rendered as a string (composite keys joined with '|'). Reading
    it: if the summary's ``output_rows`` ≫ max(inputs), the join
    explodes; if one top key dominates, that is the salting target
    (``salted_join``) or the AQE-skew-split case.

    Scale shape: two per-key count aggregates (map-side combine) →
    one inner join on the key COUNTS (distinct-key-sized frames, AQE
    chooses the strategy) → a 1-row total plus a TakeOrdered top-k.
    NULL keys never equi-match, so they are excluded from the
    contribution math (counted in ``left_rows``/``right_rows``
    totals, like the join itself would see them).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    nn = reduce(
        lambda a, b: a & b, [F.col(c).isNotNull() for c in key_cols]
    )
    lc = (
        left.filter(nn)
        .select(key.alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("lc"))
    )
    rc = (
        right.filter(nn)
        .select(key.alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("rc"))
    )
    per_key = lc.join(rc, "key").select(
        "key",
        F.col("lc").alias("left_rows"),
        F.col("rc").alias("right_rows"),
        (F.col("lc") * F.col("rc")).alias("output_rows"),
    )
    totals = (
        per_key.agg(F.sum("output_rows").alias("output_rows"))
        .crossJoin(F.broadcast(left.agg(F.count(F.lit(1)).alias("left_rows"))))
        .crossJoin(F.broadcast(right.agg(F.count(F.lit(1)).alias("right_rows"))))
        .crossJoin(F.broadcast(lc.agg(F.count(F.lit(1)).alias("left_keys"))))
        .crossJoin(F.broadcast(rc.agg(F.count(F.lit(1)).alias("right_keys"))))
        .select(
            F.lit(None).cast("string").alias("key"),
            "left_rows",
            "right_rows",
            "left_keys",
            "right_keys",
            F.coalesce("output_rows", F.lit(0)).alias("output_rows"),
        )
    )
    top = (
        per_key.orderBy(F.col("output_rows").desc(), "key")
        .limit(top_k)
        .select(
            "key",
            "left_rows",
            "right_rows",
            F.lit(None).cast("bigint").alias("left_keys"),
            F.lit(None).cast("bigint").alias("right_keys"),
            "output_rows",
        )
    )
    return totals.unionByName(top)


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top_k: int = 10,
) -> DataFrame:
    """Key-distribution skew diagnostic for a planned groupBy /
    repartition / join key — the single-frame sibling of
    ``join_fanout_profile``. At 100 TB every shuffle keyed on a
    skewed column funnels the hot key through ONE reducer; this names
    that key and sizes the fix before the shuffle does.

    Output: one summary row (``key = NULL``) with
    ``(rows, keys, max_cnt, salt_factor)`` where ``salt_factor =
    ceil(max_cnt · keys / rows)`` — the hottest key's load expressed
    in units of the MEAN key load, i.e. the ``n_salts`` that levels it
    (feed it to ``salted_join`` / use it as the AQE-skew sanity
    check); followed by the ``top_k`` keys by count as
    ``(key, cnt, share_ppm)`` with ``share_ppm = cnt·10⁶ div rows``
    (exact integer parts-per-million). Composite keys render joined
    with '|'; NULL components render as '∅' (groupBy — unlike an
    equi-join — does route NULL keys through one reducer, so they
    count). Reading it: salt_factor ≈ 1 means level keys; ≫ 1 means
    that key needs salting or a two-stage aggregate.

    Scale shape: one per-key count aggregate (map-side combine; the
    exchange carries distinct keys, not rows) → a 1-row total plus a
    TakeOrdered top-k. Nothing downstream of the count frame ever
    sees data rows. All outputs are exact bigints (``div``
    arithmetic), so the DuckDB oracle replays them bit-for-bit.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    key = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in key_cols]
    )
    counts = (
        df.select(key.alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("_r"),
        F.count(F.lit(1)).alias("_k"),
        F.max("cnt").alias("_m"),
    ).select(
        F.lit(None).cast("string").alias("key"),
        F.lit(None).cast("bigint").alias("cnt"),
        F.lit(None).cast("bigint").alias("share_ppm"),
        F.col("_r").alias("rows"),
        F.col("_k").alias("keys"),
        F.col("_m").alias("max_cnt"),
        F.expr("(_m * _k + _r - 1) div _r").alias("salt_factor"),
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), "key")
        .limit(top_k)
        .crossJoin(F.broadcast(counts.agg(F.sum("cnt").alias("_rows"))))
        .select(
            "key",
            "cnt",
            F.expr("(cnt * 1000000) div _rows").alias("share_ppm"),
            F.lit(None).cast("bigint").alias("rows"),
            F.lit(None).cast("bigint").alias("keys"),
            F.lit(None).cast("bigint").alias("max_cnt"),
            F.lit(None).cast("bigint").alias("salt_factor"),
        )
    )
    return totals.unionByName(top)


def robust_scale(
    df: DataFrame,
    value_col: str,
    n_bins: int = 256,
    out_col: str = "robust_z",
) -> DataFrame:
    """Outlier-robust standardization: ``(x − median) / (1.4826·MAD)``
    (MAD = median absolute deviation; 1.4826 is the normal-consistency
    constant) — the scaling a pipeline uses when `scale_features`'s
    mean/std would be dragged by heavy tails.

    Median and MAD come from TWO passes of the deterministic
    fixed-width histogram sketch (`profile.histogram_quantiles`), so
    unlike exact-percentile medians this never global-sorts: each pass
    is a (min, max, n) aggregate + a bounded n_bins-row bin-count
    exchange, and the 1-row median/MAD frames broadcast back onto the
    rows. Fully oracle-replayable (sketch values round to 6).

    Output: the input rows (null ``value_col`` rows dropped) with
    ``out_col`` appended; a degenerate column (MAD = 0) yields 0.0.

    NOTE (ADVICE r16): ``rows`` — the full non-null input —
    localCheckpoints here, so executor storage ∝ |input| per call and
    the cached blocks free only when the returned DataFrame is GC'd;
    driver-loop callers invoking this repeatedly in one session
    should drop references (or unpersist ``.rdd``) between calls.
    Batch-only for the same reason (streaming frames cannot
    localCheckpoint outside foreachBatch).
    """
    from embeddinghub_spark.functions.profile import histogram_quantiles

    # med/mad are 1-row frames whose subtrees are full histogram
    # sketches; rows re-embeds med and is itself referenced by the MAD
    # sketch's two passes plus the output — lazy checkpoints stop each
    # reference re-executing the whole upstream pipeline (the plan had
    # 80 Exchanges / 40 CartesianProducts of repeated subtrees)
    med = (
        histogram_quantiles(df, value_col, [0.5], n_bins=n_bins)
        .select(F.col("value").alias("_med"))
        .localCheckpoint(eager=False)
    )
    rows = (
        df.filter(F.col(value_col).isNotNull())
        .crossJoin(F.broadcast(med))
        .localCheckpoint(eager=False)
    )
    absdev = rows.select(
        F.abs(F.col(value_col).cast("double") - F.col("_med")).alias("_ad")
    )
    mad = (
        histogram_quantiles(absdev, "_ad", [0.5], n_bins=n_bins)
        .select(F.col("value").alias("_mad"))
        .localCheckpoint(eager=False)
    )
    z = F.when(
        F.col("_mad") > 0,
        (F.col(value_col).cast("double") - F.col("_med"))
        / (F.lit(1.4826) * F.col("_mad")),
    ).otherwise(F.lit(0.0))
    return (
        rows.crossJoin(F.broadcast(mad))
        .withColumn(out_col, F.round(z, 6))
        .drop("_med", "_mad")
    )


def robust_scale_by(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int = 256,
    out_col: str = "robust_z",
) -> DataFrame:
    """Per-group outlier-robust standardization:
    ``(x − median_g) / (1.4826·MAD_g)`` — ``robust_scale`` with the
    median and MAD computed PER GROUP (per event type, per source),
    the form a mixed-scale corpus actually needs (one global median
    across heterogeneous sources standardizes nothing).

    Both passes are the grouped histogram sketch
    (``profile.histogram_quantiles_by``): aggregates keyed by the
    group, quantile selection on the bin frame — no per-group data
    sort anywhere, so a whale group costs what a small one does. The
    per-group median/MAD frames are |groups| rows and broadcast back
    onto the rows. Fully oracle-replayable (sketch values round to
    6, same as the global op).

    Output: input rows (null ``value_col`` dropped) + ``out_col``;
    a degenerate group (MAD = 0) yields 0.0.
    """
    from embeddinghub_spark.functions.profile import histogram_quantiles_by

    # same plan-dedup checkpoints as robust_scale, per-group frames
    med = histogram_quantiles_by(
        df, [group_col], value_col, [0.5], n_bins=n_bins
    ).select(
        F.col(group_col), F.col("value").alias("_med")
    ).localCheckpoint(eager=False)
    rows = df.filter(F.col(value_col).isNotNull()).join(
        F.broadcast(med), group_col
    ).localCheckpoint(eager=False)
    absdev = rows.select(
        F.col(group_col),
        F.abs(F.col(value_col).cast("double") - F.col("_med")).alias("_ad"),
    )
    mad = histogram_quantiles_by(
        absdev, [group_col], "_ad", [0.5], n_bins=n_bins
    ).select(
        F.col(group_col), F.col("value").alias("_mad")
    ).localCheckpoint(eager=False)
    z = F.when(
        F.col("_mad") > 0,
        (F.col(value_col).cast("double") - F.col("_med"))
        / (F.lit(1.4826) * F.col("_mad")),
    ).otherwise(F.lit(0.0))
    return (
        rows.join(F.broadcast(mad), group_col)
        .withColumn(out_col, F.round(z, 6))
        .drop("_med", "_mad")
    )


def gap_fill(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int = 86400,
) -> DataFrame:
    """Per-entity regular time grid with last-observation-carried-
    forward — the densification step before feeding irregular event
    streams to models that expect one row per (entity, period):
    every entity gets a slot every ``step_seconds`` between its first
    and last observation; slots with >= 1 event carry the LATEST
    event's value (max-struct tiebreak, the C3 convention — a
    NULL-valued latest event stays NULL and stays ``observed``: it is
    neither rewritten by the fill nor carried forward); event-free
    slots forward-fill the previous non-null value and are flagged
    ``observed = false``. Values are COPIED, never recomputed, so
    there is no float-parity surface.

    Timestamps stay TIMESTAMP_NTZ end to end: slot arithmetic is
    ``timestampdiff(SECOND, epoch0, ts)`` (tz-free for NTZ — the
    decayed_count idiom) with the slot floor as
    ``floor(e / step) · step`` — floor-toward-minus-infinity, NOT
    ``e - e % step`` (Spark's % follows the dividend sign, which
    would alias pre-1970 epochs into slot 0) — re-materialized via
    ``timestampadd``.

    Scale shape: slot collapse (one exchange on (entity, slot),
    map-side combine) → per-entity span aggregate (|entities| rows)
    → grid explode (map-only; rows = span/step per entity — pick
    ``step_seconds`` so spans/step stays sane, the caller knows the
    horizon) → left join observations (same key, AQE) → per-entity
    ordered window for the forward fill (state = one entity's
    slots). No corpus-wide sort.

    Output: (entity, slot_ts, value, observed).
    """
    if step_seconds < 1:
        raise ValueError("step_seconds must be >= 1")
    qts = "`" + ts_col.replace("`", "``") + "`"
    epoch_s = F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {qts})"
    )
    # floor toward -inf (NOT e - e % step: Spark's % follows the
    # dividend sign, so pre-1970 epochs would alias into slot 0);
    # floor of a double division is exact for |e| < 2^53 and the
    # identical expression in DuckDB
    slot = (
        F.floor(epoch_s / F.lit(step_seconds)).cast("bigint")
        * F.lit(step_seconds)
    ).cast("bigint")
    obs = (
        df.select(
            F.col(entity_col),
            slot.alias("_slot"),
            F.struct(
                F.col(ts_col).alias("t"), F.col(value_col).alias("v")
            ).alias("_tv"),
        )
        .groupBy(entity_col, "_slot")
        .agg(F.max("_tv").alias("_m"))
        .select(
            F.col(entity_col),
            F.col("_slot"),
            F.col("_m.v").alias("_obs_v"),
            F.lit(True).alias("_seen"),  # presence != non-null value
        )
        .localCheckpoint(eager=False)  # feeds spans AND the grid join
    )
    spans = obs.groupBy(entity_col).agg(
        F.min("_slot").alias("_a"), F.max("_slot").alias("_b")
    )
    grid = spans.select(
        F.col(entity_col),
        F.explode(
            F.sequence(F.col("_a"), F.col("_b"), F.lit(step_seconds))
        ).alias("_slot"),
    )
    joined = grid.join(obs, [entity_col, "_slot"], "left")
    w = (
        Window.partitionBy(entity_col)
        .orderBy("_slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col(entity_col),
        F.expr(
            "timestampadd(SECOND, _slot, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ).alias("slot_ts"),
        # an OBSERVED slot reports its own value even when that value
        # is NULL (a null observation is not rewritten by the fill and
        # does not poison later fills — ignorenulls skips it);
        # only truly event-free slots carry the last non-null forward
        F.when(F.col("_seen").isNotNull(), F.col("_obs_v"))
        .otherwise(F.last("_obs_v", ignorenulls=True).over(w))
        .alias("value"),
        F.col("_seen").isNotNull().alias("observed"),
    )


def funnel_steps(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    type_col: str,
    stages: list[str],
) -> DataFrame:
    """Ordered funnel progression per entity: stage i counts only if
    it happens AT OR AFTER the entity's completion of stage i-1
    (first qualifying event each) — the classic
    click→signup→purchase conversion shape, here as a feature
    source: per-entity stage timestamps + depth reached.

    Computed relationally, one pass per stage: stage 1 is a plain
    min-aggregate; stage i+1 joins the stage-i frame (|entities|
    rows) against the event scan and min-aggregates events with
    ``ts >= stage_i_ts``. The join strategy is left to AQE: the
    per-entity frame broadcasts while it fits under
    ``spark.sql.autoBroadcastJoinThreshold`` and degrades to a
    shuffle join for very large entity counts — no forced hint, so
    a 100 TB entity universe cannot OOM the executors. len(stages)
    is small and fixed, so the plan is len(stages) bounded
    aggregates, each exchanging one row per entity — never a
    per-entity event sort.

    Output: (entity, <stage>_ts ... one per stage, stages_reached).
    Entities that never reach stage 1 are absent (they have no
    funnel row); later unreached stages are NULL.
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    cur = (
        df.filter(F.col(type_col) == stages[0])
        .groupBy(entity_col)
        .agg(F.min(ts_col).alias(f"{stages[0]}_ts"))
    )
    for prev, stage in zip(stages, stages[1:]):
        nxt = (
            df.filter(F.col(type_col) == stage)
            .join(cur.select(entity_col, f"{prev}_ts"), entity_col)
            .filter(F.col(ts_col) >= F.col(f"{prev}_ts"))
            .groupBy(entity_col)
            .agg(F.min(ts_col).alias(f"{stage}_ts"))
        )
        cur = cur.join(nxt, entity_col, "left")
    reached = None
    for s in stages:
        flag = F.col(f"{s}_ts").isNotNull().cast("int")
        reached = flag if reached is None else reached + flag
    return cur.select(
        F.col(entity_col),
        *[F.col(f"{s}_ts") for s in stages],
        reached.alias("stages_reached"),
    )


def cohort_retention(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    period_seconds: int = 604800,
) -> DataFrame:
    """Cohort retention matrix: entities are cohorted by the period
    of their FIRST event; each later period they appear in counts
    them as retained — the standard engagement/retention rollup,
    useful here as a dataset-health view over event-stream sources
    (is a source's activity stable across crawl cohorts?).

    Period arithmetic is the NTZ-safe integer protocol
    (``timestampdiff`` from epoch0, floor by modulo) — no session-tz
    surface. Two exchanges: first-event per entity (|entities| rows),
    then the distinct (cohort, period, entity) aggregate.

    Output: (cohort_start, periods_since, n_active) — n_active
    entities from that cohort seen in that period;
    ``periods_since = 0`` row is the cohort's size.
    """
    if period_seconds < 1:
        raise ValueError("period_seconds must be >= 1")
    qts = "`" + ts_col.replace("`", "``") + "`"
    epoch_s = F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {qts})"
    )
    # floor toward -inf (pre-1970 safety — the gap_fill note)
    period = F.floor(epoch_s / F.lit(period_seconds)).cast("bigint")
    ev = df.select(F.col(entity_col).alias("_e"), period.alias("_p"))
    first = ev.groupBy("_e").agg(F.min("_p").alias("_cohort"))
    return (
        ev.join(first, "_e")
        .select("_e", "_cohort", (F.col("_p") - F.col("_cohort")).alias("_since"))
        .distinct()
        .groupBy("_cohort", "_since")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            F.expr(
                "timestampadd(SECOND, CAST(_cohort * {0} AS BIGINT), "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')".format(period_seconds)
            ).alias("cohort_start"),
            F.col("_since").cast("bigint").alias("periods_since"),
            F.col("n_active").cast("bigint").alias("n_active"),
        )
    )


def event_transitions(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    state_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-entity event
    sequences: for every observed ``(src, dst)`` state pair, the
    transition count and the conditional probability
    ``p = n(src→dst) / Σ_d n(src→d)`` — the user-journey /
    next-event-model summary a behavioral feature pipeline derives
    from a raw event log.

    Sequencing is (ts, *order_cols) per entity, so pass a unique
    column (an event id) in ``order_cols`` to pin ties
    deterministically. NULL states are excluded up front (a NULL is
    unordered, not a state); each entity's first event has no
    predecessor and contributes no pair.

    Scale shape: ONE window partitioned by entity (per-task state is
    one entity's events — the inherent minimum for sequencing), then
    a groupBy on (src, dst) whose domain is |states|² — map-side
    combine shrinks the exchange to the state-pair domain regardless
    of corpus size; per-src totals are a second tiny aggregate joined
    back (AQE broadcasts the |states|-row frame). Probabilities are
    one double division of two exact counts, engine-reproducible.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in order_cols or []]
    w = Window.partitionBy(entity_col).orderBy(*order)
    pairs = (
        df.filter(F.col(state_col).isNotNull())
        .select(
            F.lag(F.col(state_col)).over(w).alias("src"),
            F.col(state_col).alias("dst"),
        )
        .filter(F.col("src").isNotNull())
    )
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("src").agg(F.sum("n").alias("_t"))
    return (
        counts.join(totals, "src")
        .select(
            "src",
            "dst",
            "n",
            (F.col("n") / F.col("_t")).alias("p"),
        )
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    n_bins: int = 256,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorization: clip ``value_col`` at its p_lo/p_hi quantiles —
    the tail-taming step before mean/std scaling when dropping
    outliers (a filter) is wrong and robust_scale's rank semantics
    are too strong. Quantiles come from the deterministic fixed-width
    histogram sketch (same as robust_scale): two bounded aggregate
    passes, the 1-row bounds frame broadcasts back — no global sort,
    no approx_percentile engine-internal state. NULLs pass through
    unclipped (they carry no magnitude to clip).

    Output: the input rows with ``out_col`` (default
    ``{value_col}_w``) appended, rounded to 6.
    """
    from embeddinghub_spark.functions.profile import histogram_quantiles

    if not 0.0 < p_lo < p_hi <= 1.0:
        raise ValueError("need 0 < p_lo < p_hi <= 1")
    out_col = out_col or f"{value_col}_w"
    bounds = (
        histogram_quantiles(df, value_col, [p_lo, p_hi], n_bins=n_bins)
        .agg(
            F.min(
                F.when(F.col("quantile") == p_lo, F.col("value"))
            ).alias("_wlo"),
            F.min(
                F.when(F.col("quantile") == p_hi, F.col("value"))
            ).alias("_whi"),
        )
    )
    clipped = F.round(
        F.least(
            F.col("_whi"),
            F.greatest(F.col("_wlo"), F.col(value_col).cast("double")),
        ),
        6,
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            out_col,
            F.when(F.col(value_col).isNotNull(), clipped),
        )
        .drop("_wlo", "_whi")
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    distribution of ``value_col`` — THE standard serving-drift
    monitor (PSI < 0.1 stable, 0.1–0.25 shifting, > 0.25 drifted):
    ``PSI = Σ_bins (qᵢ − pᵢ)·ln(qᵢ/pᵢ)`` with the bin grid fixed by
    the REFERENCE min/max (current values outside the reference range
    clamp into the edge bins — exactly the drift you want to see).
    The numeric companion to ``source_divergence``'s unigram KL.

    Shares are Laplace-smoothed (+0.5 per bin) so an empty bin on
    either side stays finite and deterministic. Every exchange is a
    bounded bin-count aggregate (≤ n_bins rows per task, map-side
    combine); the reference (min, max) is a broadcast 1-row frame —
    both inputs stream through once at any scale.

    Output: one row per occupied-grid bin —
    (bin, lo, hi, ref_n, cur_n, ref_share, cur_share, psi_term),
    shares/terms rounded to 6; ``SUM(psi_term)`` is the index.
    """
    from embeddinghub_spark.functions.profile import _bin_counts

    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    c_ref = F.col(value_col).cast("double")
    mm = ref.agg(
        F.min(c_ref).alias("_lo"), F.max(c_ref).alias("_hi")
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))

    def bin_counts(df: DataFrame, name: str) -> DataFrame:
        return _bin_counts(df, [], value_col, mm, n_bins).select(
            F.col("_bin").alias("bin"), F.col("_cnt").alias(name)
        )

    grid = ref.sparkSession.range(0, n_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    r = bin_counts(ref, "ref_n")
    q = bin_counts(cur, "cur_n")
    joined = (
        grid.join(r, "bin", "left")
        .join(q, "bin", "left")
        .select(
            "bin",
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
            F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
        )
        .crossJoin(F.broadcast(mm))
    )
    tot = joined.agg(
        F.sum("ref_n").alias("_rt"), F.sum("cur_n").alias("_ct")
    )
    smooth = F.lit(0.5)
    out = joined.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.round(F.col("_lo") + F.col("bin") * width, 6).alias("lo"),
        F.round(F.col("_lo") + (F.col("bin") + 1) * width, 6).alias("hi"),
        "ref_n",
        "cur_n",
        ((F.col("ref_n") + smooth)
         / (F.col("_rt") + smooth * n_bins)).alias("_p"),
        ((F.col("cur_n") + smooth)
         / (F.col("_ct") + smooth * n_bins)).alias("_q"),
    )
    return out.select(
        "bin", "lo", "hi", "ref_n", "cur_n",
        F.round("_p", 6).alias("ref_share"),
        F.round("_q", 6).alias("cur_share"),
        F.round(
            (F.col("_q") - F.col("_p")) * F.log(F.col("_q") / F.col("_p")),
            6,
        ).alias("psi_term"),
    )


def auto_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    broadcast_row_limit: int = 1_000_000,
    broadcast_byte_limit: int = 256 << 20,
    skew_ratio: float = 8.0,
    n_salts: int = 8,
    stats: dict | None = None,
) -> DataFrame:
    """Profiling-driven equi-join: measure first, then pick the
    physical strategy — the codified form of the 100 TB habit
    ``join_fanout_profile`` preaches. Result is ALWAYS the plain
    inner join (each strategy is result-invisible); only the shuffle
    shape changes:

    - right side under ``broadcast_row_limit`` rows AND an estimated
      ``broadcast_byte_limit`` bytes → explicit ``broadcast()`` (row
      count is a better broadcast signal than Spark's size-estimate
      heuristic when upstream filters defeat stats; the byte cap —
      rows × JSON-serialized width of a 1k-row sample, a deliberate
      over-estimate — stops a WIDE side under the row limit from
      being force-broadcast at multi-GB size, the OOM Spark's own
      heuristic exists to avoid);
    - else if the left side's hottest key holds more than
      ``skew_ratio`` × its mean per-key rows → ``salted_join`` with
      ``n_salts`` (the AQE-can't-split case: skew feeding a
      sort-merge join);
    - else the plain join, strategy left to Catalyst/AQE.

    The price is two map-side-combining count aggregates (right total
    + left per-key top-1 via one groupBy + max) plus a 1k-row width
    sample when the row count clears the limit — cheap scans against
    a catastrophic shuffle. ``stats`` receives {"strategy": ...,
    "est_right_bytes": ...} for tests/observability.
    """
    if not on:
        raise ValueError("on must be non-empty")
    n_right = right.count()
    if n_right <= broadcast_row_limit:
        avg_w = (
            right.limit(1024)
            .select(
                F.avg(
                    F.length(F.to_json(F.struct(*right.columns)))
                ).alias("w")
            )
            .collect()[0]["w"]
            or 0.0
        )
        est_bytes = int(n_right * avg_w)
        if stats is not None:
            stats["est_right_bytes"] = est_bytes
        if est_bytes <= broadcast_byte_limit:
            if stats is not None:
                stats["strategy"] = "broadcast"
            return left.join(F.broadcast(right), on)
    prof = (
        left.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.max("_n").alias("_mx"),
            (F.sum("_n") / F.count(F.lit(1))).alias("_mean"),
        )
        .collect()[0]
    )
    if (
        prof["_mx"] is not None
        and prof["_mean"]
        and prof["_mx"] > skew_ratio * prof["_mean"]
    ):
        if stats is not None:
            stats["strategy"] = "salted"
        return salted_join(left, right, on, n_salts=n_salts)
    if stats is not None:
        stats["strategy"] = "plain"
    return left.join(right, on)
