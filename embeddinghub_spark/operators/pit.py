"""Point-in-time (ASOF) training-set joins — SURVEY §2.2 C6-C13.

Reference semantics (provider/spark.go:103-255 ``trainingSetCreate``;
tsquery builder ``provider/tsquery/tsquery.go:346-581``): for each
label row, each feature contributes its latest value with
``feature.ts <= label.ts``; missing match → NULL; duplicate label
rows (same entity, value, ts) collapse to one (the reference's
``row_number() OVER (PARTITION BY entity, value, ts ORDER BY f.ts
DESC) = 1`` filter, provider/spark.go:228-234). Lag features shift
the cutoff: value as of ``label.ts - lag`` (provider/spark.go:150-208).

Two physical strategies:

- ``strategy="union"`` (default, the 100 TB path): tag feature rows
  and label rows, union by entity, one window pass with
  ``last(<feature struct>, ignorenulls) OVER (PARTITION BY entity
  ORDER BY ts, tag ROWS UNBOUNDED PRECEDING)``. ONE shuffle on
  entity, no row explosion, AQE skew-split applies. This is the
  classic distributed ASOF emulation (the same shape tsquery's
  ``windowJoin`` fallback produces for BigQuery, tsquery.go:187-269).

- ``strategy="theta"`` (reference-literal): left join on
  ``entity = entity AND f.ts <= l.ts`` + row_number dedup. Kept for
  parity testing; explodes on hot entities (every label row × every
  earlier feature row before the filter), so never the default.

Tie pins (SURVEY §4): equal feature ts → larger value wins
(deterministic; the reference is arbitrary there).
"""

from __future__ import annotations

import os
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from embeddinghub_spark.catalog import Catalog, FeatureLag, TrainingSetVariant

LABEL_COL = "label"  # tsquery.go:491; serving rename serving.py:628


def feature_column_name(name: str, variant: str) -> str:
    """C13: ``feature__<name>__<variant>`` — tsquery.go:49."""
    return f"feature__{name}__{variant}"


def lag_column_name(name: str, variant: str, lag: timedelta, alias: str | None) -> str:
    """Lag naming ``<name>_<variant>_lag_<delta>`` sanitized —
    client/src/featureform/register.py:4711-4715."""
    if alias:
        return alias
    delta = str(lag).replace(" ", "_").replace(":", "_").replace(",", "")
    return f"{name}_{variant}_lag_{delta}"


def asof_join_union(
    labels: DataFrame,
    feature: DataFrame,
    value_cols: dict[str, str],
    label_entity_col: str = "entity",
    feature_entity_col: str = "entity",
    label_ts_col: str = "ts",
    feature_ts_col: str = "ts",
    lag: timedelta | None = None,
    col_lags: dict[str, timedelta | None] | None = None,
) -> DataFrame:
    """Scalable ASOF: union + running last — one shuffle, no explosion.

    ``value_cols`` maps output column name → feature column (several
    at once = C10's feature-table join dedup: features sharing a
    source join in ONE pass, tsquery.go:421-430).

    ``col_lags`` (out column → lag or None) fuses LAG FEATURES into
    the same pass: feature rows are replicated once per distinct lag
    with the shifted timeline (spark.go:195-204), each replica carrying
    only its lag group's payload fields; one window then computes a
    per-field running ``last(..., ignorenulls)``. A training set with
    L lags of one feature costs ONE shuffle on entity instead of L+1
    label-sized window passes (ref lag lists can be long —
    client/src/featureform/register.py:4683-4727).
    """
    unioned, label_cols, out_names = _build_asof_union(
        labels, feature, value_cols, label_entity_col, feature_entity_col,
        label_ts_col, feature_ts_col, lag, col_lags,
    )

    # ORDER: ts asc, features-before-labels at equal ts (inclusive <=),
    # payload asc so ties on feature ts resolve to the max value (rows
    # from other lag groups are all-null on this group's fields, so the
    # per-field last(ignorenulls) below never observes them).
    w = (
        Window.partitionBy("_e")
        .orderBy(F.col("_ats").asc(), F.col("_tag").asc(), F.col("_payload").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "_tag",
        *[F.col(c) for c in label_cols],
        *[
            F.last(F.col("_payload").getField(out), ignorenulls=True)
            .over(w)
            .alias(f"_m_{out}")
            for out in out_names
        ],
    )
    out = carried.filter(F.col("_tag") == 1).select(
        *[F.col(c) for c in label_cols],
        *[F.col(f"_m_{out}").alias(out) for out in out_names],
    )
    return out


def _build_asof_union(
    labels: DataFrame,
    feature: DataFrame,
    value_cols: dict[str, str],
    label_entity_col: str,
    feature_entity_col: str,
    label_ts_col: str,
    feature_ts_col: str,
    lag: timedelta | None,
    col_lags: dict[str, timedelta | None] | None,
) -> tuple[DataFrame, list[str], list[str]]:
    """Shared union construction for the ASOF strategies: tagged
    feature rows (one replica per distinct lag, payload fields scoped
    to their lag group) unioned with tagged label rows. Returns
    (unioned, label column names, output column names)."""
    col_lags = col_lags or {}
    # group output columns by their effective lag
    lag_groups: dict[object, dict[str, str]] = {}
    for out, src in value_cols.items():
        eff = col_lags.get(out, lag)
        key = None if eff is None else int(eff.total_seconds())
        lag_groups.setdefault(key, {})[out] = src

    field_type = {
        out: feature.schema[src].dataType for out, src in value_cols.items()
    }

    def group_payload(group: dict[str, str]) -> Column:
        return F.struct(*[
            (F.col(group[out]) if out in group else F.lit(None).cast(field_type[out])).alias(out)
            for out in value_cols
        ])

    f_sides = []
    for lag_secs, group in lag_groups.items():
        f_ts = F.col(feature_ts_col).cast("timestamp_ntz")
        if lag_secs is not None:
            # f.ts + lag <= l.ts  ⟺  shifted feature timeline
            f_ts = f_ts + F.expr(f"INTERVAL {lag_secs} SECONDS")
        f_sides.append(
            feature.select(
                F.col(feature_entity_col).alias("_e"),
                f_ts.alias("_ats"),
                F.lit(0).alias("_tag"),
                group_payload(group).alias("_payload"),
            )
        )
    f_side = f_sides[0]
    for extra in f_sides[1:]:
        f_side = f_side.unionByName(extra)

    label_cols = [c for c in labels.columns]
    l_side = labels.select(
        F.col(label_entity_col).alias("_e"),
        F.col(label_ts_col).cast("timestamp_ntz").alias("_ats"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast(f_side.schema["_payload"].dataType).alias("_payload"),
        *[F.col(c) for c in label_cols],
    )
    unioned = f_side.select(
        "_e", "_ats", "_tag", "_payload",
        *[F.lit(None).cast(labels.schema[c].dataType).alias(c) for c in label_cols],
    ).unionByName(l_side)
    return unioned, label_cols, list(value_cols)


def asof_join_union_bucketed(
    labels: DataFrame,
    feature: DataFrame,
    value_cols: dict[str, str],
    label_entity_col: str = "entity",
    feature_entity_col: str = "entity",
    label_ts_col: str = "ts",
    feature_ts_col: str = "ts",
    lag: timedelta | None = None,
    col_lags: dict[str, timedelta | None] | None = None,
    bucket_seconds: int = 86_400,
) -> DataFrame:
    """Skew-resistant ASOF (SURVEY §7 hard part #1): the plain union
    strategy windows over entity, and AQE cannot split a window
    partition — a whale entity (1% of a 100 TB stream) becomes one
    task. This variant windows over (entity, time bucket) so a hot
    entity splits across time, then stitches buckets with a carry pass
    over the per-(entity, bucket) summary frame (rows = #buckets per
    entity — tiny) and combines:

      match(row) = coalesce(running-last within its bucket,
                            carry-in from the latest earlier bucket)

    Correct because bucket(b) < bucket(row) ⟹ every feature row in b
    precedes the row in the global (ats, tag, payload) order, and the
    per-bucket summary keeps the per-field LAST under exactly that
    order (max_by on (ats, payload), nulls excluded per lag group).
    Cost: the big shuffle is keyed (entity, bucket) — skew-free for
    any entity active over many buckets; plus two cheap passes over
    the summary frame. Same results as asof_join_union by
    construction; pinned by tests on every oracle PIT query.
    """
    unioned, label_cols, out_names = _build_asof_union(
        labels, feature, value_cols, label_entity_col, feature_entity_col,
        label_ts_col, feature_ts_col, lag, col_lags,
    )
    bucket = F.floor(
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', _ats)")
        / F.lit(bucket_seconds)
    ).cast("bigint")
    bucketed = unioned.withColumn("_b", bucket)

    # stage 1: running per-field last WITHIN (entity, bucket)
    w_in = (
        Window.partitionBy("_e", "_b")
        .orderBy(F.col("_ats").asc(), F.col("_tag").asc(), F.col("_payload").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = bucketed.select(
        "_e", "_b", "_tag",
        *[F.col(c) for c in label_cols],
        *[
            F.last(F.col("_payload").getField(out), ignorenulls=True)
            .over(w_in)
            .alias(f"_w_{out}")
            for out in out_names
        ],
    )

    # stage 2: per-(entity, bucket) per-field LAST over feature rows
    # (max_by on (ats, payload) = last under the global order; the
    # when() guard drops rows where the field is null so other lag
    # groups / label rows never win)
    summaries = bucketed.groupBy("_e", "_b").agg(
        *[
            F.max_by(
                F.col("_payload").getField(out),
                F.when(
                    (F.col("_tag") == 0)
                    & F.col("_payload").getField(out).isNotNull(),
                    F.struct(F.col("_ats"), F.col("_payload")),
                ),
            ).alias(f"_l_{out}")
            for out in out_names
        ]
    )
    # carry-in per bucket = last non-null summary over EARLIER buckets
    w_carry = (
        Window.partitionBy("_e")
        .orderBy(F.col("_b").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = summaries.select(
        "_e", "_b",
        *[
            F.last(F.col(f"_l_{out}"), ignorenulls=True)
            .over(w_carry)
            .alias(f"_c_{out}")
            for out in out_names
        ],
    )

    stitched = within.join(carries, ["_e", "_b"], "left")
    out = stitched.filter(F.col("_tag") == 1).select(
        *[F.col(c) for c in label_cols],
        *[
            F.coalesce(F.col(f"_w_{out}"), F.col(f"_c_{out}")).alias(out)
            for out in out_names
        ],
    )
    return out


def asof_join_theta(
    labels: DataFrame,
    feature: DataFrame,
    value_cols: dict[str, str],
    label_entity_col: str = "entity",
    feature_entity_col: str = "entity",
    label_ts_col: str = "ts",
    feature_ts_col: str = "ts",
    lag: timedelta | None = None,
) -> DataFrame:
    """Reference-literal ASOF: theta join + row_number dedup
    (provider/spark.go:141-148, 228-234). Parity/testing only."""
    lbl = labels.alias("l")
    f_ts = F.col(f"f.{feature_ts_col}").cast("timestamp_ntz")
    if lag is not None:
        f_ts = f_ts + F.expr(f"INTERVAL {int(lag.total_seconds())} SECONDS")
    feat = feature.alias("f")
    cond = (F.col(f"l.{label_entity_col}") == F.col(f"f.{feature_entity_col}")) & (
        f_ts <= F.col(f"l.{label_ts_col}").cast("timestamp_ntz")
    )
    joined = lbl.join(feat, cond, "left")
    # one surviving feature row per label row: newest f.ts, max value tiebreak
    order = [f_ts.desc_nulls_last()] + [
        F.col(f"f.{src}").desc_nulls_last() for src in value_cols.values()
    ]
    w = Window.partitionBy(
        *[F.col(f"l.{c}") for c in labels.columns]
    ).orderBy(*order)
    label_cols = [F.col(f"l.{c}") for c in labels.columns]
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            *label_cols,
            *[F.col(f"f.{src}").alias(out) for out, src in value_cols.items()],
        )
    )


# Probe results memoized per (logical plan, entity col, probe size):
# repeated training-set builds over the same registered source (the
# common catalog pattern — c6/c11/c12 all probe the same events
# source) pay the probe job ONCE per session instead of per build.
# Keyed by semanticHash of the ANALYZED plan, so two reads of the
# same source produce a hit even through fresh DataFrame objects.
# Staleness (same plan, data overwritten underneath) can only yield a
# suboptimal strategy choice, never a wrong answer — the probe is
# advisory routing, not semantics.
_SKEW_PROBE_CACHE: dict[tuple, dict] = {}


def probe_entity_skew(
    df: DataFrame, entity_col: str, probe_rows: int = 200_000
) -> dict:
    """Cheap skew probe: group the first ``probe_rows`` rows by entity
    (CollectLimit stops the scan early — bounded cost at any table
    size, unlike sample() which reads everything) and report the top
    entity's share plus rows-per-entity. Prefix-biased by design: a
    whale entity that never shows in the first 200k rows of a stream
    is rare, and the miss cost is a slow task, not a wrong answer.
    Memoized per (plan, entity col, probe size) — see cache note."""
    try:
        key = (df.semanticHash(), entity_col, probe_rows)
    except Exception:  # plans that refuse to hash: just probe
        key = None
    if key is not None and key in _SKEW_PROBE_CACHE:
        return _SKEW_PROBE_CACHE[key]
    counts = (
        df.select(F.col(entity_col).alias("_e"))
        .limit(probe_rows)
        .groupBy("_e")
        .agg(F.count("*").alias("_n"))
        .agg(
            F.sum("_n").alias("total"),
            F.max("_n").alias("top"),
            F.count("*").alias("entities"),
        )
        .first()
    )
    total = counts["total"] or 0
    result = {
        "probed_rows": total,
        "top_share": (counts["top"] / total) if total else 0.0,
        "avg_rows_per_entity": (total / counts["entities"]) if total else 0.0,
    }
    if key is not None:
        _SKEW_PROBE_CACHE[key] = result
    return result


def choose_asof_strategy(
    feature: DataFrame,
    entity_col: str = "entity",
    top_share_threshold: float = 0.10,
    avg_rows_threshold: float = 1_000.0,
    probe_rows: int = 200_000,
) -> str:
    """Pick the ASOF strategy from the skew probe: a whale entity
    (one key holding ≥ ``top_share_threshold`` of probed rows) or a
    dense timeline (avg rows/entity ≥ ``avg_rows_threshold``) means
    the plain union strategy would hand one window partition to one
    task — choose the (entity, time-bucket) variant, which AQE cannot
    provide for windows. Balanced keys keep the cheaper single-window
    plan."""
    p = probe_entity_skew(feature, entity_col, probe_rows)
    if p["top_share"] >= top_share_threshold or (
        p["avg_rows_per_entity"] >= avg_rows_threshold
    ):
        return "union_bucketed"
    return "union"


def asof_join(
    labels: DataFrame,
    feature: DataFrame,
    value_cols: dict[str, str],
    strategy: str = "union",
    **kwargs,
) -> DataFrame:
    if strategy == "auto":
        strategy = choose_asof_strategy(
            feature, kwargs.get("feature_entity_col", "entity")
        )
    if strategy == "union":
        fn = asof_join_union
    elif strategy == "union_bucketed":
        fn = asof_join_union_bucketed
    else:
        fn = asof_join_theta
    return fn(labels, feature, value_cols, **kwargs)


def _group_features(catalog: Catalog, ts_def: TrainingSetVariant):
    """C10: features sharing (source, entity col, ts col) join once
    with multiple value columns — tsquery.go:421-430, 520-529."""
    groups: dict[tuple, list] = {}
    for name, variant in ts_def.features:
        f = catalog.feature(name, variant)
        key = (f.source, f.columns.entity, f.columns.ts, f.entity)
        groups.setdefault(key, []).append(f)
    return groups


def build_training_set(
    catalog: Catalog,
    ts_def: TrainingSetVariant,
    strategy: str = "auto",
    order_by_label_ts: bool = False,
    label_filter=None,
) -> DataFrame:
    """C6-C13 composed: label left-ASOF-joined with every feature
    group, the full 4-way timestamp grid:

      - feature ts + label ts  → ASOF (C6/C7)
      - feature ts, label no ts → feature collapses to latest overall
        first (C8: tsquery.go:346-361 rn=1 CTE), equi left join
      - feature no ts (either)  → plain left join on entity (C9);
        feature deduped to one row per entity first
      - composite label entities → per-feature join key from
        EntityMappings (C12, tsquery.go:456-475)

    Duplicate label rows collapse (reference rn=1 filter). Output:
    label cols dropped to entity key(s) + feature__ cols + ``label``.
    """
    lbl_def = catalog.label(*ts_def.label)
    labels = catalog.label_table(*ts_def.label)
    label_has_ts = lbl_def.columns.ts is not None

    if label_filter is not None:
        # incremental refreshes prune the LABEL side here, before the
        # ASOF union — a post-join filter could not push through the
        # entity window, so the whole label history would still pay
        labels = labels.filter(label_filter)

    # collapse duplicate (entity…, value, ts) label rows up front —
    # equivalent to the reference's per-join rn=1 collapse.
    labels = labels.dropDuplicates()

    entity_cols = [c for c in labels.columns if c.startswith("entity")]

    def label_join_key(feature_def) -> str:
        if lbl_def.entity_mappings:
            for m in lbl_def.entity_mappings:
                if m.name == feature_def.entity:
                    return f"entity__{m.name}"
            raise KeyError(
                f"label {lbl_def.name} has no entity mapping for {feature_def.entity}"
            )
        return "entity"

    from embeddinghub_spark.operators.materialize import materialize, materialize_no_ts

    # C11 lag specs keyed by the same grouping as base features, so a
    # lag of a feature whose source group is already ASOF-joined rides
    # that group's single union pass (col_lags) instead of its own
    # shuffle. Column order contract: base feature columns first (in
    # ts_def.features order), lag columns after (ts_def.lags order).
    lag_by_group: dict[tuple, list] = {}
    for lag_spec in ts_def.lags:
        f = catalog.feature(lag_spec.feature, lag_spec.variant)
        if f.columns.ts is None or not label_has_ts:
            raise ValueError("lag features require timestamps on feature and label")
        key = (f.source, f.columns.entity, f.columns.ts, f.entity)
        lag_by_group.setdefault(key, []).append((lag_spec, f))

    groups = _group_features(catalog, ts_def)
    for key in lag_by_group:
        groups.setdefault(key, [])  # lag-only groups (feature not in the set)

    acc = labels
    for (src_key, f_entity_col, f_ts_col, _ent), feats in groups.items():
        src_df = catalog.dataframe(*src_key)
        value_cols = {
            feature_column_name(f.name, f.variant): f.columns.value for f in feats
        }
        group_lags = lag_by_group.get((src_key, f_entity_col, f_ts_col, _ent), [])
        any_def = feats[0] if feats else group_lags[0][1]
        join_key = label_join_key(any_def)
        feature_has_ts = f_ts_col is not None

        if feature_has_ts and label_has_ts:
            col_lags: dict[str, timedelta | None] = {out: None for out in value_cols}
            for lag_spec, f in group_lags:
                out_name = lag_column_name(
                    lag_spec.feature, lag_spec.variant, lag_spec.lag, lag_spec.alias
                )
                value_cols[out_name] = f.columns.value
                col_lags[out_name] = lag_spec.lag
            group_strategy = strategy
            if group_strategy == "auto":
                # per-source probe: the 100 TB-safe plan without the
                # caller knowing the flag (whale entity → bucketed)
                group_strategy = choose_asof_strategy(src_df, f_entity_col)
            if group_strategy in ("union", "union_bucketed"):
                fused_fn = (
                    asof_join_union
                    if group_strategy == "union"
                    else asof_join_union_bucketed
                )
                acc = fused_fn(
                    acc,
                    src_df,
                    value_cols,
                    label_entity_col=join_key,
                    feature_entity_col=f_entity_col,
                    label_ts_col="ts",
                    feature_ts_col=f_ts_col,
                    col_lags=col_lags,
                )
            else:
                # theta keeps one pass per distinct lag (parity path)
                base_cols = {o: s for o, s in value_cols.items() if col_lags[o] is None}
                if base_cols:
                    acc = asof_join_theta(
                        acc, src_df, base_cols,
                        label_entity_col=join_key, feature_entity_col=f_entity_col,
                        label_ts_col="ts", feature_ts_col=f_ts_col,
                    )
                for lag_spec, f in group_lags:
                    out_name = lag_column_name(
                        lag_spec.feature, lag_spec.variant, lag_spec.lag, lag_spec.alias
                    )
                    acc = asof_join_theta(
                        acc, src_df, {out_name: f.columns.value},
                        label_entity_col=join_key, feature_entity_col=f_entity_col,
                        label_ts_col="ts", feature_ts_col=f.columns.ts,
                        lag=lag_spec.lag,
                    )
        elif feature_has_ts and not label_has_ts:
            # C8: latest-overall per entity, then equi join
            for out_name, vcol in value_cols.items():
                m = materialize(src_df, f_entity_col, vcol, f_ts_col)
                acc = acc.join(
                    m.select(F.col("entity").alias(join_key), F.col("value").alias(out_name)),
                    on=join_key,
                    how="left",
                )
        else:
            # C9: no feature ts — dedup to one row/entity, plain left join
            for out_name, vcol in value_cols.items():
                m = materialize_no_ts(src_df, f_entity_col, vcol)
                acc = acc.join(
                    m.select(F.col("entity").alias(join_key), F.col("value").alias(out_name)),
                    on=join_key,
                    how="left",
                )

    feature_out_cols = [c for c in acc.columns if c not in {*entity_cols, "value", "ts"}]
    out = acc.select(
        *entity_cols,
        *feature_out_cols,
        F.col("value").alias(LABEL_COL),
        F.col("ts").alias("label_ts"),
    )
    if order_by_label_ts:
        out = out.orderBy("label_ts")  # provider/spark.go:243-249
    return out


def pit_staleness(
    labels: DataFrame,
    feature: DataFrame,
    label_entity_col: str = "entity",
    feature_entity_col: str = "entity",
    label_ts_col: str = "ts",
    feature_ts_col: str = "ts",
) -> DataFrame:
    """Feature FRESHNESS report for a PIT join: for every label row,
    the matched feature timestamp (latest ``f.ts <= l.ts``, exactly
    what C6 would join) and ``staleness_seconds = l.ts − f.ts`` — the
    age of the feature value the model would actually train/serve on.
    ``validate_pit`` answers "did the past leak forward?"; this
    answers the operational twin, "how STALE is the past we serve?"
    — the number a feature-freshness SLO monitors (feed the output to
    ``quantiles_by_group``/``histogram_quantiles`` for per-feature
    p95 staleness). Unmatched labels carry NULLs (no feature row
    existed yet — the cold-start population, worth counting
    separately).

    Scale shape: the C6 union+last single-shuffle ASOF itself — the
    payload carried through the running window is the feature's OWN
    timestamp, so the report costs exactly one training-set pass, no
    extra join. The staleness arithmetic is ``timestampdiff`` on
    TIMESTAMP_NTZ — pure calendar math, session-timezone-free.

    Output: the label columns plus ``(feature_ts,
    staleness_seconds)``.
    """
    matched = asof_join_union(
        labels,
        feature,
        {"_pit_feature_ts": feature_ts_col},
        label_entity_col,
        feature_entity_col,
        label_ts_col,
        feature_ts_col,
    )
    return matched.select(
        *labels.columns,
        F.col("_pit_feature_ts").alias("feature_ts"),
        F.expr(
            # complete seconds of age, exact: µs difference floor-div
            # 10⁶ (engines disagree on sub-second handling in their
            # second-unit datediffs — boundary counts vs truncation —
            # so both the op and its oracle divide exact microseconds)
            f"CAST(timestampdiff(MICROSECOND, CAST(`_pit_feature_ts` AS "
            f"TIMESTAMP_NTZ), CAST(`{label_ts_col}` AS TIMESTAMP_NTZ)) "
            f"div 1000000 AS BIGINT)"
        ).alias("staleness_seconds"),
    )


def time_to_next_event(
    anchors: DataFrame,
    events: DataFrame,
    anchor_entity_col: str = "entity",
    event_entity_col: str = "entity",
    anchor_ts_col: str = "ts",
    event_ts_col: str = "ts",
) -> DataFrame:
    """FORWARD ASOF — the label-engineering mirror of the C6 join:
    for every anchor row, the FIRST event STRICTLY AFTER it
    (``min(e.ts) where e.ts > a.ts`` per entity) and the gap in
    complete seconds. This is how time-to-event / survival /
    conversion-lag targets are built (time from click to next
    purchase, from signup to first churn signal); anchors with no
    later event carry NULLs — the right-censored population every
    survival model needs to see, not drop.

    Scale shape: the same union + running-carry single-shuffle trick
    as the backward ASOF, traversed in DESCENDING time so the carried
    value at each anchor is the smallest later event timestamp. Ties
    at the exact anchor timestamp sort AFTER the anchor (events at
    ``e.ts == a.ts`` are not "next" — strictness lives in the sort
    order, not a filter). One exchange on entity, no join, no
    explosion. Gap arithmetic is µs-exact integer division
    (engine-neutral, the ``pit_staleness`` protocol).

    Output: the anchor columns plus ``(next_ts,
    seconds_to_next)``.
    """
    e_side = events.select(
        F.col(event_entity_col).alias("_e"),
        F.col(event_ts_col).cast("timestamp_ntz").alias("_ats"),
        F.lit(0).alias("_tag"),
        F.col(event_ts_col).cast("timestamp_ntz").alias("_payload"),
        *[
            F.lit(None).cast(anchors.schema[c].dataType).alias(c)
            for c in anchors.columns
        ],
    )
    a_side = anchors.select(
        F.col(anchor_entity_col).alias("_e"),
        F.col(anchor_ts_col).cast("timestamp_ntz").alias("_ats"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast("timestamp_ntz").alias("_payload"),
        *[F.col(c) for c in anchors.columns],
    )
    # DESC traversal; anchors BEFORE events at equal ts (tag 1 first)
    # so an event at exactly the anchor ts is not yet visible there.
    w = (
        Window.partitionBy("_e")
        .orderBy(
            F.col("_ats").desc(), F.col("_tag").desc(), F.col("_payload").desc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = e_side.unionByName(a_side).select(
        "_tag",
        *[F.col(c) for c in anchors.columns],
        F.last("_payload", ignorenulls=True).over(w).alias("_next_ts"),
    )
    return carried.filter(F.col("_tag") == 1).select(
        *[F.col(c) for c in anchors.columns],
        F.col("_next_ts").alias("next_ts"),
        F.expr(
            f"CAST(timestampdiff(MICROSECOND, CAST(`{anchor_ts_col}` AS "
            f"TIMESTAMP_NTZ), `_next_ts`) div 1000000 AS BIGINT)"
        ).alias("seconds_to_next"),
    )


def trailing_window_features(
    labels: DataFrame,
    events: DataFrame,
    window_seconds: int | list[int],
    label_entity_col: str = "entity",
    event_entity_col: str = "entity",
    label_ts_col: str = "ts",
    event_ts_col: str = "ts",
    value_col: str | None = None,
    out_prefix: str = "w",
) -> DataFrame:
    """Trailing-window PIT aggregates — "how many events (and how
    much value) in the ``window_seconds`` BEFORE each label" — the
    other half of the feature-store vocabulary next to C6's
    value-as-of join (C11's lags answer "what was the value at
    t − lag"; this answers "what accumulated over [t − w, t)").
    Window semantics: inclusive start, EXCLUSIVE end — an event at
    exactly the label timestamp is not known strictly before it (the
    C6 convention would include it; a count feature must not, or the
    label leaks into itself when labels are derived from the same
    event stream).

    Scale shape: the naive forms both fail at 100 TB — a range join
    (`e.ts BETWEEN l.ts − w AND l.ts`) explodes by events-per-window,
    and a per-entity RANGE window over the event history sorts the
    whole history per entity. This instead unions the event deltas
    with TWO zero-delta anchor rows per label (at ``t`` and at
    ``t − w``, produced by one explode — no second scan) and takes
    ONE running cumulative sum per entity; each label's answer is the
    difference of its two anchors' cumulative values. One exchange on
    entity, label-frame-sized aggregation after it, no explosion, no
    history sort beyond the single ASOF-style ordering.

    Determinism: value sums ride as ``DECIMAL(28,9)`` of
    ``round(value, 9)`` — exact and order-independent — and surface
    as doubles rounded to 6 (the LM-family protocol), so the DuckDB
    oracle replays them bit-for-bit. ``<prefix>_sum`` is NULL when
    the window is empty (SQL SUM-over-nothing semantics), and
    ``<prefix>_count`` is 0.

    MULTI-WINDOW FUSION (the C11 lag-fusion story): pass a LIST of
    window lengths (7d/30d/90d) and every window shares the SAME
    cumulative pass and the SAME end anchor — L windows cost one
    extra anchor row per label each, not L shuffles. Output columns
    are then suffixed per window (``<prefix><seconds>_count``...).

    Output: the label columns plus ``<prefix>_count`` (+
    ``<prefix>_sum`` when ``value_col`` given); with a window list,
    ``<prefix><w>_count``/``<prefix><w>_sum`` per window ``w``.
    """
    multi = isinstance(window_seconds, (list, tuple))
    wins = [int(w) for w in (window_seconds if multi else [window_seconds])]
    if not wins or any(w <= 0 for w in wins):
        raise ValueError("window_seconds must be positive")
    if len(set(wins)) != len(wins):
        raise ValueError("window_seconds must be distinct")

    def names(w: int) -> tuple[str, str]:
        if not multi:
            return f"{out_prefix}_count", f"{out_prefix}_sum"
        return f"{out_prefix}{w}_count", f"{out_prefix}{w}_sum"

    dec = "decimal(28,9)"
    val = (
        F.round(F.col(value_col).cast("double"), 9).cast(dec)
        if value_col
        else F.lit(0).cast(dec)
    )
    ev = events.select(
        F.col(event_entity_col).alias("_e"),
        F.col(event_ts_col).cast("timestamp_ntz").alias("_ats"),
        F.lit(1).alias("_tag"),
        F.lit(1).cast("bigint").alias("_cnt"),
        val.alias("_val"),
        F.lit(None).cast("bigint").alias("_aid"),
        F.lit(None).cast("string").alias("_kind"),
        *[
            F.lit(None).cast(labels.schema[c].dataType).alias(c)
            for c in labels.columns
        ],
    )
    lts = F.col(label_ts_col).cast("timestamp_ntz")
    # all anchors come out of ONE row via explode, so the pairing id
    # (monotonically_increasing_id, assigned before the explode) is
    # consistent between them by construction
    anchor_structs = [F.struct(lts.alias("ts"), F.lit("e").alias("kind"))] + [
        F.struct(
            (lts - F.expr(f"INTERVAL {w} SECONDS")).alias("ts"),
            F.lit(f"s{w}").alias("kind"),
        )
        for w in wins
    ]
    anchors = (
        labels.withColumn("_aid", F.monotonically_increasing_id())
        .select(
            F.col(label_entity_col).alias("_e"),
            F.explode(F.array(*anchor_structs)).alias("_a"),
            F.lit(0).alias("_tag"),
            F.lit(0).cast("bigint").alias("_cnt"),
            F.lit(0).cast(dec).alias("_val"),
            "_aid",
            *[F.col(c) for c in labels.columns],
        )
        .select(
            "_e",
            F.col("_a.ts").alias("_ats"),
            "_tag",
            "_cnt",
            "_val",
            "_aid",
            F.col("_a.kind").alias("_kind"),
            *labels.columns,
        )
    )
    # anchors sort BEFORE events at the same instant (_tag 0 < 1), so
    # an anchor's cumulative total excludes events AT its timestamp:
    # the end anchor excludes t (exclusive end), the start anchor's
    # exclusion at t − w cancels in the difference (inclusive start)
    w = (
        Window.partitionBy("_e")
        .orderBy(F.col("_ats").asc(), F.col("_tag").asc(), F.col("_aid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ev.unionByName(anchors).select(
        "_tag",
        "_aid",
        "_kind",
        *labels.columns,
        F.sum("_cnt").over(w).alias("_ccnt"),
        F.sum("_val").over(w).alias("_cval"),
    )
    def cnt_at(kind: str):
        return F.max(
            F.when(F.col("_kind") == kind, F.coalesce(F.col("_ccnt"), F.lit(0)))
        )

    def val_at(kind: str):
        return F.max(
            F.when(
                F.col("_kind") == kind,
                F.coalesce(F.col("_cval"), F.lit(0).cast(dec)),
            )
        )

    aggs = []
    for w in wins:
        cnt_col, _ = names(w)
        aggs.append((cnt_at("e") - cnt_at(f"s{w}")).alias(cnt_col))
        aggs.append((val_at("e") - val_at(f"s{w}")).alias(f"_wsum{w}"))
    picked = (
        cum.filter(F.col("_tag") == 0).groupBy("_aid", *labels.columns).agg(*aggs)
    )
    out = [F.col(c) for c in labels.columns]
    for w in wins:
        cnt_col, sum_col = names(w)
        out.append(F.col(cnt_col))
        if value_col:
            out.append(
                F.when(
                    F.col(cnt_col) > 0,
                    F.round(F.col(f"_wsum{w}").cast("double"), 6),
                ).alias(sum_col)
            )
    return picked.select(*out)


def decay_hl_tag(hl: float) -> str:
    """The half-life column-name tag shared by the batch op and the
    streaming counter — ONE definition so batch/stream column parity
    can never drift (dots would read as struct paths in Spark column
    resolution, so fractional half-lives sanitize to underscores)."""
    return str(int(hl)) if float(hl).is_integer() else str(hl).replace(
        ".", "_"
    )


def _decay_half_lives(
    half_life_seconds: float | list[float], out_prefix: str
) -> list[tuple[float, str, str]]:
    """``[(hl, score_col, sum_col), ...]`` of a decayed trailing op,
    validated positive and distinct up front (not as a schema mismatch
    mid-stream). One half-life names ``<prefix>_score`` /
    ``<prefix>_sum``; a list suffixes each pair with its
    ``decay_hl_tag`` — shared by the batch op and its streaming twin."""
    multi = isinstance(half_life_seconds, (list, tuple))
    hls = [float(h) for h in (
        half_life_seconds if multi else [half_life_seconds]
    )]
    if not hls or any(h <= 0 for h in hls) or len(set(hls)) != len(hls):
        raise ValueError("half_life_seconds must be positive and distinct")
    tags = [decay_hl_tag(hl) if multi else "" for hl in hls]
    return [
        (hl, f"{out_prefix}{t}_score", f"{out_prefix}{t}_sum")
        for hl, t in zip(hls, tags)
    ]


def decay_bucket_weights(
    n_buckets: int, bucket_seconds: int, half_life_seconds: float
) -> list[float]:
    """The literal per-bucket-age weights ``round(0.5^(d·g/hl), 9)``
    for ``d = 1..n_buckets`` — computed ONCE on the driver, so both
    the Spark plan and any SQL oracle carry identical constants and
    no cross-engine ``pow`` disagreement can exist."""
    g = float(bucket_seconds)
    hl = float(half_life_seconds)
    return [
        round(0.5 ** (d * g / hl), 9) for d in range(1, int(n_buckets) + 1)
    ]


def _epoch_seconds_expr(ts_col: str) -> str:
    """Engine-neutral integer seconds since epoch on TIMESTAMP_NTZ —
    ``unix_timestamp`` is session-tz-sensitive, this is not (the
    ``pit_staleness`` protocol; DuckDB twin:
    ``date_diff('second', TIMESTAMP '1970-01-01', ts)``)."""
    q = "`" + ts_col.replace("`", "``") + "`"
    return (
        f"timestampdiff(SECOND, CAST('1970-01-01 00:00:00' AS "
        f"TIMESTAMP_NTZ), CAST({q} AS TIMESTAMP_NTZ))"
    )


def _window_args(bucket_seconds: int, n_buckets: int) -> tuple[int, int]:
    """``(g, K)`` of a bucketed trailing window, rejected up front unless
    both are > 0 — the one argument check of the batch ops here and
    of their streaming twins (``streaming.windows._bucketed_window``)."""
    g, K = int(bucket_seconds), int(n_buckets)
    if g <= 0 or K <= 0:
        raise ValueError("bucket_seconds and n_buckets must be > 0")
    return g, K


def _bucket_of(ts_col: str, g: int):
    """The epoch-aligned bucket index ``floor(epoch_s / g)`` as BIGINT."""
    return F.expr(
        f"CAST(floor(({_epoch_seconds_expr(ts_col)}) / {g}) AS BIGINT)"
    )


def _label_probes(
    labels: DataFrame, label_entity_col: str, label_ts_col: str, g: int, K: int
) -> DataFrame:
    """One row per (label, probed bucket) of the bucketed trailing
    window: ``_aid`` (a per-label id, assigned before the explode),
    the label columns, ``_e`` (the entity), ``_b`` (each of the K
    complete buckets ``[_lb − K, _lb − 1]`` before the label's own
    bucket ``_lb``) and ``_lb``. The caller left-joins its
    (entity, bucket) partials on ``["_e", "_b"]``."""
    return (
        labels.withColumn("_aid", F.monotonically_increasing_id())
        .withColumn("_lb", _bucket_of(label_ts_col, g))
        .select(
            "_aid",
            *labels.columns,
            F.col(label_entity_col).alias("_e"),
            # explode_OUTER: a NULL-ts label has no bucket sequence but
            # must survive with count 0 / NULL score (the
            # trailing_window_features convention) instead of silently
            # vanishing from a training frame
            F.explode_outer(
                F.sequence(F.col("_lb") - K, F.col("_lb") - 1)
            ).alias("_b"),
            "_lb",
        )
    )


def decayed_trailing_features(
    labels: DataFrame,
    events: DataFrame,
    bucket_seconds: int,
    n_buckets: int,
    half_life_seconds: float | list[float],
    label_entity_col: str = "entity",
    event_entity_col: str = "entity",
    label_ts_col: str = "ts",
    event_ts_col: str = "ts",
    value_col: str | None = None,
    out_prefix: str = "decay",
) -> DataFrame:
    """Exponentially-DECAYED trailing PIT aggregates — the serving
    twin of ``trailing_window_features`` (which answers "how much in
    [t − w, t)" with every event weighted 1): per label row, events
    weighted by ``0.5^(age / half_life)`` so recent activity counts
    more — the "how active is this entity RIGHT NOW" rate feature
    every fraud/recsys serving stack wants (reference lag features,
    provider/spark.go:150-208, answer the point-lookup form; this is
    the accumulated form with recency weighting).

    SEMANTICS — bucketed decay, decay-at-reference-time: time is
    partitioned into epoch-aligned buckets of ``bucket_seconds`` (g).
    A label at time t has reference ``r = bucket_start(t)`` and sees
    the ``n_buckets`` (K) COMPLETE buckets before r; an event in the
    bucket d steps back (d = 1..K) weighs ``0.5^(d·g / half_life)``.
    The label's own in-progress bucket is EXCLUDED — exactly the
    feature-store contract "features are computed at bucket
    boundaries and served unchanged within the bucket", and leak-free
    when labels derive from the same event stream (an event at or
    just before the label can never reach it). Age is measured in
    whole buckets, so decay granularity is g: pick ``g ≤ hl/8`` for
    ≤9% max weight discretization. Events older than K buckets
    contribute 0 (choose K·g ≥ ~20 half-lives to make the truncation
    invisible at 9-decimal rounding).

    WHY NOT exact per-event decay at t: ``Σ v_i·0.5^((t−t_i)/hl)``
    per label is a pairwise term — computing it without a range join
    needs a per-entity rebase (the streaming counter's sequential
    fold), and any fixed-base batch rewrite (``0.5^((t−B)/hl)·Σ
    0.5^((B−t_i)/hl)``) either overflows or amplifies rounding by the
    rebase factor once the history spans many half-lives. Bucketing
    bounds every exponent by K·g/hl, which keeps the whole sum exact
    decimal arithmetic on driver-literal weights.

    Scale shape: events pre-aggregate per (entity, bucket) — ONE
    map-side-combined exchange over the (100 TB) event table, output
    |entities|×|active buckets| rows. Labels explode ×K bucket probes
    (K is a small constant: 32 probes for 32 buckets) and join the
    partials on (entity, bucket) — entity-bucket keyed, AQE-sized,
    fan-out ≤ K by construction, NEVER events-per-window (the range
    join this replaces explodes by that). One final label-frame-sized
    groupBy. No per-entity history sort anywhere.

    Determinism protocol — SCALED BIGINTs, not DECIMAL: bucket value
    partials are 1e9-scaled integers (``round(round(v,9)·1e9, 0)``
    summed as BIGINT — exact, order-free); weights are driver
    literals rounded to 9 (``decay_bucket_weights``); each probe's
    contribution is ``round(partial·w·1e9, 0)`` as BIGINT; per-label
    sums stay BIGINT; the result is the 1e6-scaled integer
    ``round(sum9/1000, 0)`` divided back to DOUBLE. Scale-0 rounding
    of a shared double is cross-engine safe (representable halves
    round away from zero in Spark, DuckDB and Python alike), whereas
    rounding a DECIMAL→DOUBLE cast at fractional scale is 1-ulp
    fragile at large magnitudes — that bit at sf0.1. Magnitudes stay
    exact while ``Σ|v|·weight < 2^53/1e9 ≈ 9e6`` per label window.

    MULTI-HALF-LIFE FUSION (the C11 lag-fusion story): pass a LIST of
    half-lives (a fast 1-day decay next to a slow 30-day decay — the
    standard short/long activity-profile pair) and every half-life
    shares the SAME bucket partials and the SAME K-probe join — an
    extra half-life costs one literal-weight column, zero extra
    exchanges. Output columns are then suffixed per half-life
    (``<prefix><hl>_score`` / ``<prefix><hl>_sum``).

    Output: the label columns plus ``<prefix>_count`` (unweighted
    event count over the K buckets, 0 when empty),
    ``<prefix>_score`` (decayed count, NULL when empty) and, with
    ``value_col``, ``<prefix>_sum`` (decayed value sum, NULL when
    empty); with a half-life list, ``<prefix><hl>_score`` /
    ``<prefix><hl>_sum`` per half-life.
    """
    g, K = _window_args(bucket_seconds, n_buckets)
    # MULTI-HALF-LIFE FUSION (the C11 lag-fusion story): a LIST of
    # half-lives (fast 1d decay + slow 30d decay) shares the SAME
    # bucket partials and the SAME K-probe join — extra half-lives
    # cost one more literal-weight column each, zero extra exchanges
    decays = _decay_half_lives(half_life_seconds, out_prefix)
    # 1e9-scaled BIGINT of round(v, 9): exact, order-free summation
    val9 = (
        F.round(
            F.round(F.col(value_col).cast("double"), 9) * F.lit(1e9), 0
        ).cast("bigint")
        if value_col
        else F.lit(0).cast("bigint")
    )
    partials = (
        events.select(
            F.col(event_entity_col).alias("_e"),
            _bucket_of(event_ts_col, g).alias("_b"),
            val9.alias("_v9"),
        )
        .groupBy("_e", "_b")
        .agg(F.count(F.lit(1)).alias("_c"), F.sum("_v9").alias("_v9"))
    )
    probes = _label_probes(labels, label_entity_col, label_ts_col, g, K)
    # per-half-life weight lookup rides as a plan-literal array
    # indexed by d — every half-life shares the same probes and join
    for i, (hl, _, _) in enumerate(decays):
        w_arr = F.array(*[F.lit(w) for w in decay_bucket_weights(K, g, hl)])
        probes = probes.withColumn(
            f"_w{i}",
            F.element_at(w_arr, (F.col("_lb") - F.col("_b")).cast("int")),
        )
    joined = probes.join(partials, ["_e", "_b"], "left")
    # 1e9-scaled BIGINT terms: round-0 of a shared double, then exact
    # integer sums — no DECIMAL→DOUBLE fractional rounding anywhere
    aggs = [
        F.sum(F.coalesce(F.col("_c"), F.lit(0))).alias(f"{out_prefix}_count"),
    ]
    for i in range(len(decays)):
        term_cnt9 = F.round(
            F.col("_c").cast("double") * F.col(f"_w{i}") * F.lit(1e9), 0
        ).cast("bigint")
        aggs.append(F.sum(term_cnt9).alias(f"_score9_{i}"))
        if value_col:
            term_val9 = F.round(
                F.col("_v9").cast("double") * F.col(f"_w{i}"), 0
            ).cast("bigint")
            aggs.append(F.sum(term_val9).alias(f"_vsum9_{i}"))
    picked = joined.groupBy("_aid", *labels.columns).agg(*aggs)
    nonempty = F.col(f"{out_prefix}_count") > 0

    def to6(col9: str):
        # 1e9-scale → 1e6-scale integer (scale-0 HALF_UP on a shared
        # double — exact-half ties representable, all engines agree),
        # then one exact-operand IEEE division back to DOUBLE
        s6 = F.round(
            F.col(col9).cast("double") / F.lit(1000.0), 0
        ).cast("bigint")
        return s6.cast("double") / F.lit(1e6)

    out = [F.col(c) for c in labels.columns]
    out.append(F.col(f"{out_prefix}_count"))
    for i, (_, score_col, sum_col) in enumerate(decays):
        out.append(F.when(nonempty, to6(f"_score9_{i}")).alias(score_col))
        if value_col:
            out.append(
                F.when(nonempty, to6(f"_vsum9_{i}")).alias(sum_col)
            )
    return picked.select(*out)


def trailing_distinct_features(
    labels: DataFrame,
    events: DataFrame,
    bucket_seconds: int,
    n_buckets: int,
    value_col: str,
    label_entity_col: str = "entity",
    event_entity_col: str = "entity",
    label_ts_col: str = "ts",
    event_ts_col: str = "ts",
    p: int = 9,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Approximate DISTINCT-count trailing PIT feature — "how many
    distinct ``value_col`` values did this entity touch in the K
    complete buckets before the label" (distinct devices / merchants /
    IPs in the last 7 days: the classic fraud/risk feature). Window
    semantics are exactly ``decayed_trailing_features``'s: reference =
    the label's bucket start, the in-progress bucket excluded
    (leak-free), epoch-aligned buckets of ``bucket_seconds``.

    WHY a sketch: the exact form needs the distinct (entity, bucket,
    value) triples carried to every label — an exchange whose width
    grows with data. Here events build md5-register HyperLogLog state
    per (entity, bucket) — at most ``2^p`` fixed-width rows per
    entity-bucket regardless of event count (the ``hll_distinct_by``
    protocol, functions/profile.py, bit-replayable by any md5-bearing
    engine) — and a label's window estimate is a register-wise MAX
    over its K probed buckets: HLL union is lossless, so the estimate
    EQUALS what a single sketch over the window's raw events would
    give. Standard error ≈ 1.04/√(2^p); empty windows yield exactly
    0.0 through the small-range correction.

    Scale shape: one map-side-combined exchange builds the register
    table; labels explode ×K probes and join on (entity, bucket) with
    fan-out ≤ K·min(ndv_bucket, 2^p) register rows per label — a
    constant bound, never ∝ events; two label-frame-sized groupBys
    (register merge, then estimate). All integer arithmetic until the
    final scalar division (exact ``shiftleft`` sums), so the oracle
    replays it bit for bit at any scale.

    Output: the label columns plus ``<out_col>`` (round-3 double) and
    ``<out_col>_buckets_used`` (how many of the K probed buckets held
    any events — the support indicator).
    """
    from embeddinghub_spark.functions.profile import (
        _hll_check,
        _hll_estimate_cols,
        _hll_merge,
        hll_register_frame,
    )

    g, K = _window_args(bucket_seconds, n_buckets)
    if K > 63:
        # buckets_used rides as a 64-bit bit_or bitmask over the probe
        # distance d ∈ [1, K]; Spark's shiftleft wraps the shift amount
        # mod 64, so K > 63 would silently alias distances onto the
        # same bit and under-count. Fail fast instead (ADVICE r9) — a
        # >63-bucket trailing window should coarsen bucket_seconds.
        raise ValueError(
            f"n_buckets={K} > 63: buckets_used bitmask is exact only "
            "for K <= 63 — increase bucket_seconds instead"
        )
    _hll_check(events, value_col, p, "trailing_distinct_features")
    # the shared register recipe (profile.hll_register_frame) — ONE
    # protocol definition across the batch sketch, the streaming twin,
    # this PIT feature, and their oracles
    registers = hll_register_frame(
        events.select(
            F.col(event_entity_col).alias("_e"),
            _bucket_of(event_ts_col, g).alias("_b"),
            F.col(value_col),
        ),
        ["_e", "_b"],
        value_col,
        p,
    ).select(
        "_e",
        "_b",
        F.col("bucket").alias("_reg"),
        F.col("max_rho").alias("_max_rho"),
    )
    probes = _label_probes(labels, label_entity_col, label_ts_col, g, K)
    joined = probes.join(registers, ["_e", "_b"], "left")
    # bucket support rides as a bitmask over the probe distance d
    # (bit_or is associative, so it folds through both groupBys and
    # popcounts to the EXACT number of distinct matched buckets)
    dbit = F.when(
        F.col("_max_rho").isNotNull(),
        F.expr("shiftleft(1L, cast(_lb - _b as int))"),
    ).otherwise(F.lit(0).cast("bigint"))
    # register-wise MAX across the K probed buckets = lossless HLL
    # union of the window
    merged = joined.groupBy("_aid", *labels.columns, "_reg").agg(
        F.max("_max_rho").alias("_rho"),
        F.bit_or(dbit).alias("_mask"),
    )
    per_label = merged.groupBy("_aid", *labels.columns).agg(
        *_hll_merge("_rho"),
        F.expr("bit_count(bit_or(_mask))").cast("bigint").alias("_bused"),
    )
    est, _ = _hll_estimate_cols(p)
    return per_label.select(
        *labels.columns,
        est.alias(out_col),
        F.col("_bused").alias(f"{out_col}_buckets_used"),
    )


def trailing_topk_features(
    labels: DataFrame,
    events: DataFrame,
    bucket_seconds: int,
    n_buckets: int,
    item_col: str,
    k: int = 3,
    label_entity_col: str = "entity",
    event_entity_col: str = "entity",
    label_ts_col: str = "ts",
    event_ts_col: str = "ts",
) -> DataFrame:
    """Trailing TOP-K ITEMS PIT feature — "which ``item_col`` values
    did this entity touch most often in the K complete buckets before
    the label" (top 3 categories / merchants / devices in the last 7
    days: the classic personalization/risk feature next to the count
    (`trailing_window_features`), decay (`decayed_trailing_features`)
    and distinct (`trailing_distinct_features`) members). Window
    semantics are identical to those twins: reference = the label's
    bucket start, in-progress bucket excluded (leak-free),
    epoch-aligned buckets of ``bucket_seconds``.

    EXACT at the honest grain: events pre-aggregate to
    (entity, bucket, item) counts in ONE map-side-combined exchange —
    state ∝ distinct items per entity-bucket, never raw events; a
    label's window counts are an integer sum over its K probed
    buckets, so the result is engine-replayable with no float
    protocol at all. The top-k selection runs per label over the
    window's item set (the inherent floor for an exact top-k — an
    item can rank k-th overall while below k in every single bucket,
    so no per-bucket prune is lossless). The rank window partitions
    by label id: task state is one label's window items, never the
    corpus. Deterministic total order: count DESC, item ASC — both
    ties and the permutation are engine-independent.

    NULL handling: NULL items never count (the SUM-skips-NULL
    convention); a label whose window is empty (or whose ts is NULL)
    SURVIVES with one ``rank=1, item=NULL, item_count=NULL`` row —
    training frames must not silently drop labels.

    Output: the label columns plus ``rank`` (1..k), ``item``,
    ``item_count`` — ≤ k rows per label, ≥ 1.

    Reference parity note: the reference's feature DAG has no
    windowed heavy-hitter op; this extends the trailing PIT family
    (provider/offline.go materialization semantics) with the
    aggregation a ranking/personalization pipeline serves.
    """
    from pyspark.sql import Window

    g, K = _window_args(bucket_seconds, n_buckets)
    if k <= 0:
        raise ValueError("k must be > 0")
    partials = (
        events.filter(F.col(item_col).isNotNull())
        .groupBy(
            F.col(event_entity_col).alias("_e"),
            _bucket_of(event_ts_col, g).alias("_b"),
            F.col(item_col).alias("_item"),
        )
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    probes = _label_probes(labels, label_entity_col, label_ts_col, g, K)
    summed = (
        probes.join(partials, ["_e", "_b"], "left")
        .groupBy("_aid", *labels.columns, "_item")
        .agg(F.sum("_c").alias("item_count"))
    )
    # NULLS LAST explicitly on BOTH keys: Spark and DuckDB default
    # NULL placement differently, and the empty-window sentinel row
    # (_item NULL) must always rank after every real item
    w = Window.partitionBy("_aid").orderBy(
        F.col("item_count").desc_nulls_last(),
        F.col("_item").asc_nulls_last(),
    )
    ranked = summed.withColumn("rank", F.row_number().over(w))
    return (
        ranked.filter(
            (F.col("rank") <= k)
            & (F.col("_item").isNotNull() | (F.col("rank") == 1))
        )
        .select(
            *labels.columns,
            "rank",
            F.col("_item").alias("item"),
            "item_count",
        )
    )


def training_set_refresh(
    catalog: Catalog,
    name: str,
    variant: str,
    target_dir: str,
    refresh_id: int,
    since=None,
    strategy: str = "auto",
) -> str:
    """Incremental training-set maintenance: PIT-join ONLY the labels
    newer than ``since`` (a timestamp; None bootstraps everything)
    and land them in ``target_dir/refresh-<id>`` with
    ``mode("overwrite")`` — a replayed refresh id overwrites its own
    output instead of appending duplicates (the ``streaming_enrich``
    idempotence discipline). ``read_training_set_dir`` reads the
    union.

    Why this shape: a scheduled training-set update joins yesterday's
    NEW labels, not the whole label history — the label side prunes
    BEFORE the ASOF union (a post-join filter cannot push through the
    entity window), so refresh cost scales with the label delta. The
    FEATURE side still reads its full history — ASOF correctness
    requires it (a new label may match an arbitrarily old feature
    row); bound that side upstream with the bucketed feature layout
    or feature-table retention, not here.

    Caveats the caller owns: ``since`` is an EVENT-time cutoff, so
    late-arriving labels older than it are skipped — drive ``since``
    from the S5 incremental state (ingestion watermark + overwrite
    detection) when the label source can be late; appended refreshes
    are only disjoint if successive ``since`` values are (the same
    S5 state gives exactly that).
    """
    ts_def = catalog.training_set(name, variant)
    label_filter = None
    if since is not None:
        lbl_def = catalog.label(*ts_def.label)
        if lbl_def.columns.ts is None:
            raise ValueError(
                "incremental refresh needs a label timestamp; "
                f"label {lbl_def.name}.{lbl_def.variant} has none"
            )
        label_filter = F.col("ts") > F.lit(since)
    df = build_training_set(
        catalog, ts_def, strategy=strategy, label_filter=label_filter
    )
    path = os.path.join(target_dir, f"refresh-{int(refresh_id)}")
    df.write.mode("overwrite").parquet(path)
    return path


def read_training_set_dir(spark: SparkSession, target_dir: str) -> DataFrame:
    """All refreshes' rows as one training frame (recursive scan over
    the per-refresh directories)."""
    return (
        spark.read.option("recursiveFileLookup", "true").parquet(target_dir)
    )


def validate_pit(
    df: DataFrame,
    label_ts_col: str = "label_ts",
    feature_ts_cols: list[str] | None = None,
) -> DataFrame:
    """Label-leakage audit for a training frame that carries feature
    timestamps: returns the rows where ANY feature timestamp is
    LATER than the label timestamp — each one a point-in-time
    violation (the feature value could not have been known at label
    time; ref semantics: `provider/spark.go:103-255` joins on
    f.ts <= l.ts, so a correct builder yields an EMPTY result here).
    Run it against externally-produced training sets before reuse —
    the independent check that a vendor/legacy table was built
    point-in-time correct. NULL feature timestamps (no feature row
    matched) are not violations, but a NULL LABEL timestamp is —
    there is nothing to validate against, so the row is flagged with
    the label column's name (silently passing it would certify an
    unauditable frame as clean).

    Map-only: one codegen disjunction over the ts columns, no
    shuffle; columns default to every column ending in ``__ts``.
    Output: the violating input rows plus ``violations`` — the array
    of offending feature-ts column names.
    """
    cols = feature_ts_cols
    if cols is None:
        cols = [c for c in df.columns if c.endswith("__ts")]
    if not cols:
        raise ValueError(
            "no feature timestamp columns found (pass feature_ts_cols "
            "or include *__ts columns in the frame)"
        )
    flags = F.array_compact(
        F.array(
            F.when(F.col(label_ts_col).isNull(), F.lit(label_ts_col)),
            *[
                F.when(F.col(c) > F.col(label_ts_col), F.lit(c))
                for c in cols
            ],
        )
    )
    return df.withColumn("violations", flags).filter(
        F.size("violations") > 0
    )
