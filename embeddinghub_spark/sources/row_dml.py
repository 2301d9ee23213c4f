"""Row-level DML planner shared by the native Delta and Iceberg
writers: MERGE upsert, DELETE and UPDATE, each copy-on-write
(``strategy="cow"``) or merge-on-read (``strategy="mor"``).

One algorithm serves both formats — prune → probe → collect hits →
commit:

1. PRUNE. Per-file column bounds (Delta JSON stats, Iceberg manifest
   bounds) are tested against the source's key range (MERGE, one tiny
   agg job) or against the caller's ``range_filter`` plus bounds
   derived from simple conjuncts of a SQL condition string
   (DELETE/UPDATE, ``scan_prune.bounds_from_condition``). A file whose
   bounds provably miss cannot hold a matching row; a file without
   bounds always stays a candidate, so pruning only ever under-prunes.
2. PROBE. One scan of the candidates keeps the files that ACTUALLY
   hold a matching row (the distinct ``_fp`` of matching rows).
   Untouched files then hold no match, so a file-local rewrite is
   output-identical to a full rebuild.
3. HITS (mor). The matched ``(_fp, _pos)`` pairs collect via Arrow,
   capped at ``max_mor_rows`` (above it, rewriting is cheaper than a
   huge delete set: the error points at ``cow``), grouped per file.
   MERGE's candidate scan is its probe too: a file with a matched
   position is by definition touched.
4. COMMIT. The format's own, pinned to the snapshot the plan was
   computed from: a file-grain rewrite of the touched files (cow), or
   a row delta — deletion vectors / position-delete files for the hit
   positions, atomically with any new rows (mor).

A format plugs in through ``DmlTable``: its live file list, a per-file
bounds accessor, the ``_fp`` string its scan tags a file's rows with,
a scan that optionally keeps ``_fp``/``_pos``, and its two commits.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class DmlTable:
    """The format facts one DML call needs, pinned to one snapshot.

    - ``files``: live file handles; ``bounds(f)`` → {column: (lo, hi)};
      ``fp(f)`` → the literal path the scan's ``_fp`` carries for f.
    - ``scan(files, keep_meta)``: the files' live rows in schema column
      order, plus ``_fp`` (decoded file path) and ``_pos`` (row index)
      when ``keep_meta``; an empty list scans to an empty frame.
    - ``date_as``: the bound store's date shape ("iso" strings for Delta
      stats, "date" objects for Iceberg manifests).
    - ``rewrite(rows, touched)``: the cow commit — ``rows`` replace the
      ``touched`` files (None: replace every file).
    - ``row_delta(rows, hits, op, assigned)``: the mor commit —
      delete the ``hits`` positions ({_fp: int64 positions}, maybe
      empty) and add ``rows`` (None for DELETE) in one commit;
      ``assigned`` names UPDATE's assigned columns.
    - ``full_table``: when set, cow ops rebuild the whole table from it
      instead of pruning (live deletes or files a partial rewrite
      cannot carry).
    - ``live``: when set, drops already-deleted rows from a meta scan
      the format's scan leaves in (UPDATE must not resurrect them).
    """

    name: str
    schema: T.StructType
    partition_by: list[str]
    files: list
    bounds: Callable[[Any], dict]
    fp: Callable[[Any], str]
    scan: Callable[[list, bool], DataFrame]
    date_as: str
    rewrite: Callable[[DataFrame, list | None], Any]
    row_delta: Callable[..., Any]
    full_table: Callable[[], DataFrame] | None = None
    live: Callable[[DataFrame], DataFrame] | None = None

    @property
    def columns(self) -> list[str]:
        return [f.name for f in self.schema.fields]


def check_strategy(strategy: str) -> None:
    if strategy not in ("cow", "mor"):
        raise ValueError(f"strategy must be cow|mor, got {strategy!r}")


def merge(
    t: DmlTable,
    source: DataFrame,
    key_cols: list[str],
    strategy: str,
    max_mor_rows: int,
):
    """MERGE upsert (WHEN MATCHED → UPDATE all source columns, WHEN
    NOT MATCHED → INSERT; ``tables.merge_upsert_df``). cow rewrites
    the touched files with the merged rows; mor deletes the matched
    target rows and adds EVERY source row (updated image or insert),
    so an insert-only merge is a plain pinned append."""
    from embeddinghub_spark.sources.tables import merge_upsert_df

    if t.full_table is not None and strategy == "cow":
        return t.rewrite(
            merge_upsert_df(t.full_table(), source, key_cols), None
        )
    candidates = _key_range_candidates(t, source, key_cols)
    keys = source.select(*key_cols).distinct()
    if strategy == "mor":
        hits: dict = {}
        if candidates:
            probe = t.scan(candidates, True).join(
                keys, key_cols, "left_semi"
            ).select("_fp", "_pos")
            hits = collect_hits(probe, max_mor_rows, "MERGE")
        return t.row_delta(source.select(*t.columns), hits, "MERGE")
    touched = _touched(
        t, candidates,
        lambda rows: rows.select("_fp", *key_cols).join(
            keys, key_cols, "left_semi"
        ),
    )
    merged = merge_upsert_df(t.scan(touched, False), source, key_cols)
    return t.rewrite(merged, touched)


def delete(
    t: DmlTable,
    condition,
    range_filter: dict | None,
    strategy: str,
    max_mor_rows: int,
):
    """DELETE WHERE ``condition``: cow keeps the rows where the
    condition is false or NULL (SQL DELETE semantics); mor deletes the
    matched positions without rewriting data. None when nothing
    matched."""
    if t.full_table is not None and strategy == "cow":
        return t.rewrite(
            t.full_table().filter(_kept(_column(condition))), None
        )
    touched, cond = _touched_by_condition(t, condition, range_filter)
    if not touched:
        return None
    if strategy == "mor":
        hits = collect_hits(
            t.scan(touched, True).filter(cond).select("_fp", "_pos"),
            max_mor_rows, "DELETE",
        )
        return t.row_delta(None, hits, "DELETE") if hits else None
    return t.rewrite(t.scan(touched, False).filter(_kept(cond)), touched)


def update(
    t: DmlTable,
    condition,
    assignments: dict,
    range_filter: dict | None,
    strategy: str,
    max_mor_rows: int,
):
    """UPDATE ... SET ``assignments`` WHERE ``condition``. Every
    assignment evaluates against the PRE-update row in one projection
    (sequential withColumn would let a later assignment read an
    already-updated column, which is not SQL UPDATE) and casts back to
    the column's table type. cow rewrites the touched files; mor
    deletes the matched positions and adds their updated images. None
    when nothing matched."""
    types = {f.name: f.dataType for f in t.schema.fields}
    unknown = sorted(set(assignments) - set(types))
    if unknown:
        raise ValueError(f"UPDATE assigns unknown columns {unknown}")
    moved = sorted(set(assignments) & set(t.partition_by))
    if moved:
        raise ValueError(
            f"UPDATE of partition columns {moved} moves rows between "
            f"partitions — rewrite via merge_{t.name} instead"
        )
    exprs = {
        c: (F.expr(e) if isinstance(e, str) else e).cast(types[c])
        for c, e in assignments.items()
    }
    if t.full_table is not None and strategy == "cow":
        return t.rewrite(
            _apply(t.full_table(), t.columns, exprs, _column(condition)),
            None,
        )
    touched, cond = _touched_by_condition(t, condition, range_filter)
    if not touched:
        return None
    if strategy == "mor":
        rows = t.scan(touched, True)
        if t.live is not None:
            rows = t.live(rows)
        rows = rows.filter(cond)
        hits = collect_hits(
            rows.select("_fp", "_pos"), max_mor_rows, "UPDATE"
        )
        if not hits:
            return None
        # the matched set is read twice over the same immutable files
        # (this collect, then the staged write of the images): parquet
        # row_index is deterministic at rest, so both reads agree
        images = rows.select(*[
            exprs[c].alias(c) if c in exprs else F.col(c)
            for c in t.columns
        ])
        return t.row_delta(images, hits, "UPDATE", sorted(exprs))
    return t.rewrite(
        _apply(t.scan(touched, False), t.columns, exprs, cond), touched
    )


def collect_hits(probe: DataFrame, max_mor_rows: int, op: str) -> dict:
    """Collect a ``(_fp, _pos)`` probe frame via Arrow (``toPandas``;
    row-based ``collect()`` decodes one py4j Row at a time, seconds
    per commit on churn-sized hit lists) and group the positions by
    file: {_fp: int64 ndarray}. Raises past ``max_mor_rows``."""
    import numpy as np

    pdf = probe.limit(max_mor_rows + 1).toPandas()
    if len(pdf) > max_mor_rows:
        raise ValueError(
            f"MoR {op} matches more than max_mor_rows="
            f"{max_mor_rows} rows — use strategy='cow'"
        )
    if not len(pdf):
        return {}
    fps = pdf["_fp"].to_numpy(dtype=object)
    pos = pdf["_pos"].to_numpy(dtype=np.int64)
    order = np.argsort(fps, kind="stable")
    fps, pos = fps[order], pos[order]
    uniq, first = np.unique(fps, return_index=True)
    return dict(zip(uniq.tolist(), np.split(pos, first[1:])))


def _column(condition):
    return F.expr(condition) if isinstance(condition, str) else condition


def _kept(cond):
    """Rows a DELETE keeps: the condition is false or NULL."""
    return ~F.coalesce(cond, F.lit(False))


def _apply(rows: DataFrame, columns: list[str], exprs: dict, cond):
    """The cow UPDATE projection: assigned columns take their new value
    on rows where ``cond`` holds, every other row passes verbatim."""
    hit = "__hit"
    while hit in rows.columns:
        hit += "_"
    rows = rows.withColumn(hit, F.coalesce(cond, F.lit(False)))
    return rows.select(*[
        F.when(F.col(hit), exprs[c]).otherwise(F.col(c)).alias(c)
        if c in exprs else F.col(c)
        for c in columns
    ])


def _key_range_candidates(t: DmlTable, source, key_cols) -> list:
    """Stage-1 MERGE pruning: the source's per-key (min, max), one agg
    job, against each file's bounds. A key whose range is not one
    comparable kind (NULL-only, timestamp, binary) drops out of the
    test — under-prune only."""
    from embeddinghub_spark.sources.scan_prune import _kind, range_excluded

    row = source.agg(
        *[F.min(c).alias(f"_lo_{c}") for c in key_cols],
        *[F.max(c).alias(f"_hi_{c}") for c in key_cols],
    ).collect()[0]
    usable = {}
    for c in key_cols:
        lo = _bound_value(row[f"_lo_{c}"], t.date_as)
        hi = _bound_value(row[f"_hi_{c}"], t.date_as)
        if _kind(lo) is not None and _kind(lo) == _kind(hi):
            usable[c] = (lo, hi)
    if not usable:
        return list(t.files)
    return [f for f in t.files if not range_excluded(t.bounds(f), usable)]


def _bound_value(v, date_as: str):
    """A source key extreme in the bound store's shape: Delta stats
    serialize dates as ISO strings (ISO order == date order)."""
    import datetime as _dt

    if (
        date_as == "iso" and isinstance(v, _dt.date)
        and not isinstance(v, _dt.datetime)
    ):
        return v.isoformat()
    return v


def _touched_by_condition(t: DmlTable, condition, range_filter):
    """(touched files, condition Column) for DELETE/UPDATE. Stage 1
    prunes by the caller's ``range_filter`` and, for a SQL-string
    condition, by bounds derived from its simple conjuncts (the
    caller's filter wins per column; each is independently sound).
    Stage 2 probes the candidates with the condition."""
    from embeddinghub_spark.sources.scan_prune import (
        bounds_from_condition,
        range_excluded,
        validate_range_filter,
    )

    if isinstance(condition, str):
        derived = bounds_from_condition(
            condition, t.columns, date_as=t.date_as
        )
        if derived:
            range_filter = {**derived, **(range_filter or {})}
    cond = _column(condition)
    files = list(t.files)
    if range_filter:
        validate_range_filter(range_filter, t.columns)
        files = [
            f for f in files
            if not range_excluded(t.bounds(f), range_filter)
        ]
    return _touched(t, files, lambda rows: rows.filter(cond)), cond


def _touched(t: DmlTable, files: list, matching) -> list:
    """Stage-2 exact probe: one scan of ``files``; ``matching`` keeps
    the rows that match, and the files they came from are touched."""
    if not files:
        return []
    hit = {
        r["_fp"]
        for r in matching(t.scan(files, True))
        .select("_fp").distinct().collect()
    }
    return [f for f in files if t.fp(f) in hit]


def change_rows(
    old_rows: DataFrame,
    new_rows: DataFrame,
    columns: list[str],
    key_cols: list[str],
    version_col: str,
    version: int,
) -> DataFrame:
    """Row-level change feed of one commit, shared by
    ``read_delta_changes`` and ``read_iceberg_changes``: the rows of
    the files the commit removed (``old_rows``) full-outer-join the
    rows of the files it added (``new_rows``) null-safely on
    ``key_cols``. A key only on the new side is an ``insert``, only on
    the old side a ``delete``; on both sides with any differing value
    column it is an ``update_preimage`` + ``update_postimage`` pair
    (unchanged rows of a rewritten file emit nothing). Output:
    ``columns`` + ``_change_type`` + ``version_col`` (= ``version``)."""
    value_cols = [c for c in columns if c not in key_cols]
    o = old_rows.select(
        *[F.col(k).alias(f"_ok_{k}") for k in key_cols],
        *[F.col(c).alias(f"_o_{c}") for c in value_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new_rows.select(
        *[F.col(k).alias(f"_nk_{k}") for k in key_cols],
        *[F.col(c).alias(f"_n_{c}") for c in value_cols],
        F.lit(True).alias("_in_new"),
    )
    cond = None
    for k in key_cols:
        eq = F.col(f"_ok_{k}").eqNullSafe(F.col(f"_nk_{k}"))
        cond = eq if cond is None else cond & eq
    joined = n.join(o, cond, "full_outer")
    in_old = F.col("_in_old").isNotNull()
    in_new = F.col("_in_new").isNotNull()
    differs = F.lit(False)
    for c in value_cols:
        differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))

    def image(key_prefix: str, val_prefix: str) -> list:
        return [
            F.col(f"{key_prefix}{c}" if c in key_cols else f"{val_prefix}{c}")
            .alias(c)
            for c in columns
        ]

    old_img, new_img = image("_ok_", "_o_"), image("_nk_", "_n_")
    vlit = F.lit(version).cast("long").alias(version_col)

    def tagged(rows: DataFrame, img: list, change: str) -> DataFrame:
        return rows.select(*img, F.lit(change).alias("_change_type"), vlit)

    upd = joined.filter(in_old & in_new & differs)
    return (
        tagged(joined.filter(~in_old), new_img, "insert")
        .unionByName(tagged(joined.filter(in_old & ~in_new), old_img, "delete"))
        .unionByName(tagged(upd, old_img, "update_preimage"))
        .unionByName(tagged(upd, new_img, "update_postimage"))
    )
