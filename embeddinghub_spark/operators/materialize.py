"""Materialization: latest value per entity (SURVEY §2.2 C3-C5).

Reference: SQL template ``provider/queries/materialize_ts.sql:1-10``
(MAX-ts subquery), runner window version ``LatestFeaturesTransform``
``offline_store_spark_runner.py:672-685``, no-ts variant
``provider/queries/materialize_no_ts.sql:1-36``, global row numbering
for chunked serve ``provider/sql.go:1683-1690``.

Semantic pins (SURVEY §4 "traps"):
  - ts ties: the SQL template keeps all tied rows, the runner's window
    keeps one arbitrary row. We pin the window behavior with a
    deterministic tiebreaker (value DESC after ts DESC).
  - no-ts: the reference relies on implicit row order
    (materialize_no_ts.sql:2-4 comment). We pin last-wins by file
    order via monotonically_increasing_id, or a caller-supplied
    deterministic tiebreak column.

Scale notes: C3 is ONE hash aggregate on entity — ``max(struct(ts,
value))`` picks the same winner as the reference's row_number window
(struct ordering is field-major: ts first, then the value tiebreak)
but partial-aggregates map-side, so the exchange carries one row per
(partition, entity) instead of every input row: at 100 TB the shuffle
is |entities|-sized, not |events|-sized, and a hot entity collapses
to one row per map task before the exchange (no AQE skew handling
needed — the skew never reaches the wire). No global sort anywhere
except C5's explicit serve-ordering: ``global_prefix`` /
``grouped_prefix``, the one prefix-sum core every running total in
the package uses (mechanism on ``_running``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _latest_by_struct(
    df: DataFrame,
    entity_col: str,
    order_cols: list,
    value_col: str,
    ts_out,
) -> DataFrame:
    """One-pass latest-per-entity: ``max(struct(order..., value))``.

    Equivalent to ``row_number() OVER (PARTITION BY entity ORDER BY
    order... DESC) = 1``: struct comparison is field-major, Spark's
    ordering for max() ranks NULL lowest and NaN highest — exactly the
    DESC NULLS LAST window order. Unlike the window, the aggregate
    partial-combines map-side (shuffle ∝ |entities|, skew-immune).
    """
    fields = [c.alias(f"_o{i}") for i, c in enumerate(order_cols)]
    fields.append(F.col(value_col).alias("_v"))
    return (
        df.groupBy(F.col(entity_col).alias("entity"))
        .agg(F.max(F.struct(*fields)).alias("_w"))
        .select(
            "entity",
            F.col("_w._v").alias("value"),
            ts_out.alias("ts"),
        )
    )


def materialize(
    df: DataFrame,
    entity_col: str = "entity",
    value_col: str = "value",
    ts_col: str | None = "ts",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """C3: latest ``(entity, value, ts)`` row per entity.

    Same winner as the runner's window (:679-683, ts DESC with the
    value-DESC tiebreak pinned) computed as a map-side-combining hash
    aggregate — see _latest_by_struct. Output: entity, value, ts.
    """
    order = [F.col(ts_col), F.col(value_col)]
    for c in tiebreak_cols or []:
        order.append(F.col(c))
    return _latest_by_struct(
        df, entity_col, order, value_col, F.col("_w._o0")
    )


def materialize_refresh(
    spark,
    delta_df: DataFrame,
    target_dir: str,
    entity_col: str = "entity",
    value_col: str = "value",
    ts_col: str = "ts",
    keep_versions: int = 2,
) -> str:
    """Incremental C3 refresh: fold ONLY the new rows into the
    previous snapshot and commit through the C18 atomic swap —
    refresh cost O(|delta| + |entities|) instead of re-aggregating
    the full history every run (at 100 TB the history rescan IS the
    materialization bill; the reference schedules exactly this kind
    of periodic update). Feed ``delta_df`` from the S5 incremental
    read (``read_incremental`` + the overwrite-detection state).

    Semantics are EXACTLY full-rebuild ``materialize`` over
    everything ever folded (pinned by test, late deltas included):
    the previous snapshot already holds each entity's winning
    ``(ts, value)``, and the max-struct aggregate over
    ``snapshot ∪ materialize(delta)`` re-picks the same winner the
    full history would — a late-arriving older row cannot overwrite
    a newer snapshot value, and ties break value-DESC like C3. The
    delta is pre-collapsed per entity before the union, so the fold
    aggregate sees ≤ |entities| + |delta entities| rows.

    First call (no snapshot yet) bootstraps from the delta alone.
    Returns ``target_dir`` (readable via ``read_version``; previous
    snapshots remain for time travel per ``keep_versions``).
    """
    from embeddinghub_spark.sources.sinks import (
        atomic_update,
        list_versions,
        read_version,
    )

    delta_snap = materialize(delta_df, entity_col, value_col, ts_col)
    if not list_versions(target_dir):
        snap = delta_snap
    else:
        prev = read_version(spark, target_dir, 0)
        snap = materialize(prev.unionByName(delta_snap))
    return atomic_update(snap, target_dir, keep_versions=keep_versions)


def materialize_no_ts(
    df: DataFrame,
    entity_col: str = "entity",
    value_col: str = "value",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """C4: one row per entity when no timestamp exists; ts pinned to
    epoch-0 (``CAST(0 AS TIMESTAMP)`` — provider/spark.go:118-129).

    Keep-last semantics: with ``tiebreak_cols`` the winner is the max
    by those columns (deterministic, oracle-checkable); without, the
    last row in file order (monotonically_increasing_id — pinned
    replacement for the reference's implicit ordering).
    """
    if tiebreak_cols:
        order = [F.col(c) for c in tiebreak_cols]
    else:
        df = df.withColumn("_file_order", F.monotonically_increasing_id())
        order = [F.col("_file_order")]
    return _latest_by_struct(
        df,
        entity_col,
        order,
        value_col,
        F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'"),
    )


def chunk(df_with_rn: DataFrame, chunk_idx: int, rows_per_chunk: int = 100_000,
          row_col: str = "row_number") -> DataFrame:
    """V2 segment read: ``row_number BETWEEN lo AND hi`` (provider/
    sql.go:1786-1789); default chunk size 100k (provider/offline.go:41)."""
    lo = chunk_idx * rows_per_chunk + 1
    hi = (chunk_idx + 1) * rows_per_chunk
    return df_with_rn.filter(F.col(row_col).between(lo, hi))


def num_chunks(row_count: int, rows_per_chunk: int = 100_000) -> int:
    """NumChunks = ceil(rows/chunk) — provider/offline.go:41."""
    return -(-row_count // rows_per_chunk)




def _running(df, group_cols, order_exprs, value_col, num_partitions):
    """The C5 prefix-sum core behind ``global_prefix`` and
    ``grouped_prefix``: the inclusive running count (``value_col=None``)
    or running sum of ``value_col`` in ``(group_cols ASC, *order_exprs)``
    order, without a single-partition window.

    A literal ``row_number() OVER (ORDER BY ...)`` (provider/
    sql.go:1683-1690) collapses to ONE partition — fatal at 100 TB.
    Instead: one range exchange on the order (a head group splits
    across partitions), a window WITHIN each partition (and group) for
    the local running total ``_local``, then the caller adds the
    exclusive prefix of per-partition subtotals as an offset. An eager
    ``localCheckpoint`` pins the ranged layout: the subtotal job and
    the final plan MUST see identical partition ids (AQE may otherwise
    coalesce the range exchange differently per job, shifting ids and
    corrupting the offsets); the ContextCleaner releases the blocks
    once the plan is GC'd. Totals are bigint (``value_col`` must be an
    integer column); the order must be total (tie-break with a unique
    key) for a deterministic result.

    Returns ``(frame + _pid + _local, per-partition subtotal
    aggregate aliased _t, n_partitions)``. The internal names are
    guarded here, so callers reserve only what they inject themselves.
    """
    if group_cols:
        op, reserved = "grouped_prefix", ("_pid", "_local", "_off", "_t")
    else:
        op, reserved = "global_prefix", ("_pid", "_local")
    clash = sorted(set(reserved) & set(df.columns))
    if clash:
        raise ValueError(
            f"{op} reserves internal column(s) {clash}; "
            "rename them on the input first"
        )
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(
        n, *[F.col(g).asc() for g in group_cols], *order_exprs
    ).localCheckpoint(eager=True)
    w = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = F.count(F.lit(1)) if value_col is None else F.sum(value_col)
    local = ranged.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_local", total.over(w)
    )
    return local, total.alias("_t"), n


def global_prefix(
    df: DataFrame,
    order_exprs: list,
    *,
    out_col: str,
    value_col: str | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """C5 global running total: ``out_col`` = the inclusive running
    count (a 1-based global row number) or running sum of ``value_col``
    in ``order_exprs`` order (Columns, directions included). Returns
    ``(df + out_col, grand total)`` — the total falls out of the
    offsets for free, so callers needing both run no count job.

    Mechanism: ``_running``. The per-partition subtotals are one tiny
    collected row per partition, ordered on the driver and folded into
    the plan as a literal offset array — no join (partitions-sized: at
    extreme parallelism, 10⁵ partitions, cap ``num_partitions``).
    """
    local, total, n = _running(df, [], order_exprs, value_col, num_partitions)
    subtotals = sorted(map(tuple, local.groupBy("_pid").agg(total).collect()))
    offsets, acc = [0] * n, 0
    for pid, t in subtotals:
        offsets[pid] = acc
        acc += t or 0
    offset_arr = F.array(*[F.lit(o).cast("bigint") for o in offsets])
    out = local.withColumn(
        out_col, F.col("_local") + F.element_at(offset_arr, F.col("_pid") + 1)
    ).drop("_pid", "_local")
    return out, acc


def grouped_prefix(
    df,
    group_cols: list[str],
    order_exprs: list,
    *,
    out_col: str,
    value_col: str | None = None,
    num_partitions: int | None = None,
):
    """Per-GROUP C5 running total: ``out_col`` = the inclusive running
    count (``value_col=None``) or running sum of ``value_col`` within
    each ``group_cols`` combination, in ``order_exprs`` order (total
    WITHIN each group) — without ever putting a whole group on one
    task. Empty ``group_cols`` is the global case: ``global_prefix``.

    Mechanism: ``_running``. The offsets are a (partitions × groups)-row
    subtotal frame whose exclusive per-group prefix rides a broadcast
    join back — never a driver-side literal.
    """
    if not group_cols:
        return global_prefix(
            df, order_exprs, out_col=out_col, value_col=value_col,
            num_partitions=num_partitions,
        )[0]
    local, total, _ = _running(
        df, group_cols, order_exprs, value_col, num_partitions
    )
    offw = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy("_pid", *group_cols)
        .agg(total)
        .withColumn("_off", F.coalesce(F.sum("_t").over(offw), F.lit(0)))
        .select("_pid", *group_cols, "_off")
    )
    return (
        local.join(F.broadcast(offsets), ["_pid", *group_cols])
        .withColumn(out_col, (F.col("_local") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_local", "_off")
    )
