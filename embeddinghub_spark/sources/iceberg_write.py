"""Native Apache Iceberg table WRITE path — no connector JAR required.

The write-side twin of ``sources/iceberg_meta.py`` (S10-Iceberg; the
reference writes Iceberg through Spark's connector,
``offline_store_spark_runner.py:920-949``), built the way the native
Delta writer was: everything here is the PUBLIC Iceberg table spec
(iceberg.apache.org/spec), format version 2, filesystem catalog.

What a commit writes:
- data files staged by Spark's parquet writer, moved into
  ``data/`` under fresh uuid names (record counts/sizes from the
  parquet footers);
- one MANIFEST (Avro) of ADDED entries — the spec's v2
  ``manifest_entry`` record with Iceberg's exact ``field-id``
  annotations in the Avro schema, null entry sequence numbers
  (ADDED entries inherit the manifest-list row's sequence number),
  and the required header metadata (``schema``, ``partition-spec``,
  ``partition-spec-id``, ``content``, ``format-version``);
- one MANIFEST LIST (Avro): the previous snapshot's rows carried
  forward (append) or dropped (overwrite) plus the new manifest's row
  with the snapshot's sequence number;
- a new ``v<N>.metadata.json`` committed PUT-IF-ABSENT (staged file +
  ``os.link`` — the same local-FS atomicity discipline as the Delta
  writer; losing a race re-reads and retries), then
  ``version-hint.text`` advances (best-effort — readers fall back to
  the max metadata version).

Interop posture: data files are written WITHOUT parquet field-id
metadata (Spark's writer doesn't emit it), so every commit publishes
the ``schema.name-mapping.default`` table property mapping each
field-id to its column name — the spec's sanctioned way to read
field-id-free files; this repo's reader resolves renames through the
same property. Cross-validation against the real iceberg-spark
connector needs the JAR and is environment-gated (the Avro layer
itself is cross-validated against the Java Avro library in tests).

Partitioning: IDENTITY transforms are in scope — ``partition_by``
writes one identity spec field per column, stages through Spark's
``partitionBy`` (hive layout; the stripped source columns are
recovered by the spec's column projection rule from the manifest
entry's TYPED partition struct — ``read_iceberg`` implements it, and
manifest-level partition pruning keys on the same values). Honest
bounds (raise, never silently miswrite): non-identity transforms
(bucket/truncate/days/…) and float/double/temporal partition columns
gate toward the connector; flat schemas of primitives, decimals and
lists-of-primitives (struct/map columns gate); append, overwrite and
file-grain copy-on-write (``carry_files``).

Row-level DML (``merge_iceberg`` / ``delete_iceberg`` /
``update_iceberg``, each ``cow`` or ``mor``) is planned by the
format-neutral ``sources/row_dml.py`` (bounds prune → exact probe →
collect hits → commit); this module supplies the Iceberg facts
(``_dml_table``): manifest bounds, a ``_scan_parquet`` scan,
``carry_files`` rewrites (cow) and position-delete row deltas (mor).
Every snapshot-producing commit — ``write_iceberg``'s and the MoR
DELETE's — shares one commit step (``_commit_snapshot``: manifest
list, snapshot summary, metadata publish).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from embeddinghub_spark.sources._table_core import (
    _bin_pack,
    _merge_schema_error,
    _put_if_absent,
    _stage,
    _sweep_orphans,
)
from embeddinghub_spark.sources.avro_io import read_avro_file, write_avro_file
from embeddinghub_spark.sources.iceberg_meta import (
    _OBJ_META_RE,
    _V_META_RE,
    IcebergProtocolError,
    encode_bound,
    is_iceberg_table,
)


# the spec's write.metadata.metrics.default = truncate(16): manifest
# string bounds store at most this many code points (lower = prefix,
# upper = prefix incremented)
_MANIFEST_STRING_PREFIX = 16


def _max_metadata_version(meta_dir: str) -> tuple[int, str] | None:
    """(version, abs path) of the HIGHEST metadata file present —
    commit attempts derive the next version from this, never from
    ``version-hint.text`` (a racing writer can leave the hint stale,
    and a stale base would make every retry re-claim the same taken
    version)."""
    best: tuple[int, str] | None = None
    for f in os.listdir(meta_dir):
        m = _V_META_RE.match(f) or _OBJ_META_RE.match(f)
        if m:
            key = (int(m.group(1)), f)
            if best is None or key > best:
                best = key
    if best is None:
        return None
    return best[0], os.path.join(meta_dir, best[1])


class IcebergWriteError(RuntimeError):
    """A commit attempt failed permanently (schema mismatch, lost
    race beyond retries, unsupported shape)."""


# --------------------------------------------------------------- type mapping

_SPARK_TO_ICE: dict[str, str] = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "string": "string",
    "binary": "binary",
    "timestamp_ntz": "timestamp",   # wall clock, no zone
    "timestamp": "timestamptz",     # instant
}


def _ice_type(dt: T.DataType, next_id: list[int]) -> Any:
    """Spark → Iceberg type (the inverse of iceberg_meta._to_spark_type
    for the supported subset). ``next_id`` is the running column-id
    counter (list element ids consume one)."""
    name = dt.typeName()
    if name in _SPARK_TO_ICE:
        return _SPARK_TO_ICE[name]
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        if isinstance(dt.elementType, (T.ArrayType, T.MapType, T.StructType)):
            raise IcebergProtocolError(
                "nested non-primitive list elements not supported by "
                "the native Iceberg writer — use the connector"
            )
        eid = next_id[0]
        next_id[0] += 1
        return {
            "type": "list",
            "element-id": eid,
            "element": _ice_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    raise IcebergProtocolError(
        f"Spark type {dt.simpleString()} not supported by the native "
        "Iceberg writer — use the connector"
    )


def _ice_schema(schema: T.StructType, schema_id: int = 0) -> dict:
    """Iceberg struct schema with field-ids 1..N assigned in column
    order (list element ids follow after the top-level block)."""
    next_id = [len(schema.fields) + 1]
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": not f.nullable,
                "type": _ice_type(f.dataType, next_id),
            }
        )
    return {
        "type": "struct",
        "schema-id": schema_id,
        "fields": fields,
        "_last_column_id": next_id[0] - 1,
    }


def _type_sans_ids(t: Any) -> Any:
    """A type json with its embedded ids stripped — the structural
    identity two schema versions must share for a column name to keep
    its field-id (only flat lists carry a nested id here: the writer
    gates out nested structs/maps)."""
    if isinstance(t, dict):
        return {k: v for k, v in t.items() if k != "element-id"}
    return t


def _name_mapping_json(ice_schema: dict) -> str:
    return json.dumps(
        [
            {"field-id": f["id"], "names": [f["name"]]}
            for f in ice_schema["fields"]
        ]
    )


# ------------------------------------------------------- spec Avro schemas

_ICE_TO_AVRO: dict[str, str] = {
    "long": "long",
    "int": "int",
    "string": "string",
    "boolean": "boolean",
    "double": "double",
    "float": "float",
}


def _bounds_avro_field(name: str, fid: int, kid: int, vid: int) -> dict:
    """Iceberg encodes map<int, binary> bound maps as Avro ARRAYS of
    key/value records (the spec's non-string-key map form)."""
    return {
        "name": name,
        "field-id": fid,
        "default": None,
        "type": [
            "null",
            {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": f"k{kid}_v{vid}",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": kid},
                        {"name": "value", "type": "bytes",
                         "field-id": vid},
                    ],
                },
            },
        ],
    }


def _manifest_entry_schema(partition_fields: list | None = None) -> dict:
    """The v2 ``manifest_entry`` Avro record with the spec's exact
    field-id annotations (spec §Manifests) for the fields this writer
    emits — including the ``lower_bounds``/``upper_bounds`` stat maps
    (125-127 / 128-130) that manifest-level range pruning keys on;
    other optional stats columns are omitted (nullable in the spec,
    absent fields simply don't appear in the schema).
    ``partition_fields`` — [(name, iceberg_primitive, field_id)] —
    types the partition struct for identity-partitioned tables; the
    default is the spec's empty struct (unpartitioned)."""
    part_fields = [
        {"name": n, "type": ["null", _ICE_TO_AVRO[t]],
         "default": None, "field-id": fid}
        for n, t, fid in (partition_fields or [])
    ]
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int",
                         "field-id": 134},
                        {"name": "file_path", "type": "string",
                         "field-id": 100},
                        {"name": "file_format", "type": "string",
                         "field-id": 101},
                        {
                            "name": "partition",
                            "field-id": 102,
                            # unpartitioned: the spec's empty struct
                            "type": {"type": "record", "name": "r102",
                                     "fields": part_fields},
                        },
                        {"name": "record_count", "type": "long",
                         "field-id": 103},
                        {"name": "file_size_in_bytes", "type": "long",
                         "field-id": 104},
                        _bounds_avro_field("lower_bounds", 125, 126, 127),
                        _bounds_avro_field("upper_bounds", 128, 129, 130),
                        {"name": "equality_ids",
                         "type": ["null", {"type": "array",
                                           "items": "int",
                                           "element-id": 136}],
                         "default": None, "field-id": 135},
                    ],
                },
            },
        ],
    }


def _manifest_list_schema() -> dict:
    """The v2 ``manifest_file`` Avro record (spec §Manifest Lists),
    required fields only, exact field-ids."""
    return {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long",
             "field-id": 516},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_files_count", "type": "int", "field-id": 504},
            {"name": "existing_files_count", "type": "int",
             "field-id": 505},
            {"name": "deleted_files_count", "type": "int",
             "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {"name": "existing_rows_count", "type": "long",
             "field-id": 513},
            {"name": "deleted_rows_count", "type": "long",
             "field-id": 514},
        ],
    }


# ------------------------------------------------------------ atomic commit

def _publish_metadata(meta_dir: str, version: int, meta: dict) -> bool:
    """Claim ``v<version>.metadata.json`` put-if-absent, then advance
    ``version-hint.text`` (temp file + rename; best-effort — readers
    fall back to the max metadata version). False if another writer
    owns the version."""
    final = os.path.join(meta_dir, f"v{version}.metadata.json")
    if not _put_if_absent(final, json.dumps(meta)):
        return False
    hint_tmp = os.path.join(meta_dir, f"version-hint.{uuid.uuid4().hex}.tmp")
    with open(hint_tmp, "w", encoding="utf-8") as fh:
        fh.write(str(version))
    os.replace(hint_tmp, os.path.join(meta_dir, "version-hint.text"))
    return True


def _latest_metadata(path: str) -> tuple[str, int, dict]:
    """(metadata dir, version, parsed metadata) of the HIGHEST metadata
    file — the base every metadata-only commit builds on."""
    meta_dir = os.path.join(path, "metadata")
    latest = _max_metadata_version(meta_dir)
    if latest is None:
        raise ValueError(f"not an Iceberg table: {path}")
    version, mfile = latest
    with open(mfile, encoding="utf-8") as fh:
        return meta_dir, version, json.load(fh)


def _current_spec(meta: dict) -> dict:
    specs = meta.get("partition-specs") or []
    return next(
        (s for s in specs
         if s.get("spec-id") == meta.get("default-spec-id", 0)),
        specs[0] if specs else {"spec-id": 0, "fields": []},
    )


def _identity_columns(meta: dict) -> list:
    """The source column of each field of the table's current partition
    spec, in order. Identity transforms only: any other raises toward
    the connector."""
    name_by_id = {
        int(f["id"]): f["name"] for f in _current_schema(meta)["fields"]
    }
    out = []
    for pf in _current_spec(meta).get("fields") or []:
        if pf.get("transform") != "identity":
            raise IcebergProtocolError(
                f"partition transform {pf.get('transform')!r} not "
                "supported by the native writer — use the connector"
            )
        out.append(name_by_id.get(int(pf.get("source-id", -1))))
    return out


def _current_schema(meta: dict) -> dict:
    """The table's current schema record (the first one when
    ``current-schema-id`` names none; empty fields without schemas)."""
    schemas = meta.get("schemas") or [{"schema-id": 0, "fields": []}]
    return next(
        (s for s in schemas
         if s.get("schema-id") == meta.get("current-schema-id")),
        schemas[0],
    )


def _fresh_ids(meta: dict, fields: list[dict]) -> tuple[list[dict], int]:
    """``fields`` renumbered, in order, with field ids (and a list's
    element id) above every id the table ever issued — Iceberg ids are
    permanent, never reused. Returns the fields and the new last column
    id."""
    issued = [int(meta.get("last-column-id", 0))]
    for s in meta.get("schemas") or []:
        for f in s.get("fields") or []:
            issued.append(int(f["id"]))
            # historical schemas may carry types this writer gates
            # (struct/map, from a connector): collect whatever nested
            # ids they expose, never assume the list shape
            if isinstance(f["type"], dict):
                issued.extend(
                    int(f["type"][k])
                    for k in ("element-id", "key-id", "value-id")
                    if k in f["type"]
                )
    next_free = max(issued) + 1
    out = []
    for f in fields:
        fid, t = next_free, f["type"]
        next_free += 1
        if isinstance(t, dict):
            t = dict(t, **{"element-id": next_free})
            next_free += 1
        out.append(dict(f, id=fid, type=t))
    return out, next_free - 1


def _manifest_header(ice_schema: dict, spec: dict, content: str) -> dict:
    """The Avro header metadata the spec requires of a manifest."""
    return {
        "schema": json.dumps(
            {k: v for k, v in ice_schema.items() if k != "schema-id"}
        ),
        "partition-spec": json.dumps(spec.get("fields") or []),
        "partition-spec-id": str(spec.get("spec-id", 0)),
        "format-version": "2",
        "content": content,
    }


def _manifest_entry(
    status: int,
    snapshot_id: int | None,
    seq: int | None,
    content: int,
    fp: str,
    partition: dict,
    rows: int,
    size: int,
    lower: list | None = None,
    upper: list | None = None,
    eq_ids: list | None = None,
) -> dict:
    """One v2 ``manifest_entry`` record for the file at ``fp``; ``seq``
    None lets an ADDED entry inherit its manifest-list row's sequence
    number."""
    return {
        "status": status,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": content,
            "file_path": f"file://{fp}",
            "file_format": "PARQUET",
            "partition": partition,
            "record_count": int(rows),
            "file_size_in_bytes": int(size),
            "lower_bounds": lower,
            "upper_bounds": upper,
            "equality_ids": eq_ids,
        },
    }


def _write_delete_manifest(
    meta_dir: str,
    snapshot_id: int,
    seq: int,
    ice_schema: dict,
    spec: dict,
    spec_field_defs: list,
    position_deletes: list | None,
    equality_deletes: list | None,
) -> dict:
    """ONE content=1 (deletes) manifest of ADDED delete files —
    ``position_deletes`` (abs_path, rows, size, partition) and
    ``equality_deletes`` (… + equality field ids) — and its
    manifest-list row. ADDED entries inherit the row's sequence
    number."""
    man_path = os.path.join(meta_dir, f"m-{uuid.uuid4().hex}.avro")
    entries = [
        (1, (dfp, drows, dsize, dpart), None)  # POSITION_DELETES
        for dfp, drows, dsize, dpart in (position_deletes or [])
    ] + [
        (2, (dfp, drows, dsize, dpart), [int(i) for i in eq_ids])
        for dfp, drows, dsize, dpart, eq_ids in (equality_deletes or [])
    ]
    write_avro_file(
        man_path,
        _manifest_entry_schema(spec_field_defs),
        [
            _manifest_entry(1, snapshot_id, None, content, dfp,  # ADDED
                            dict(dpart or {}), drows, dsize, eq_ids=eq_ids)
            for content, (dfp, drows, dsize, dpart), eq_ids in entries
        ],
        metadata=_manifest_header(ice_schema, spec, "deletes"),
    )
    return {
        "manifest_path": f"file://{man_path}",
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": int(spec.get("spec-id", 0)),
        "content": 1,  # deletes
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(int(e[1][1]) for e in entries),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }


def _carried_manifest_rows(path: str, meta: dict | None) -> list[dict]:
    """The current snapshot's manifest-list rows, carried forward
    verbatim by an append-shaped commit ([] without a snapshot). The
    list path resolves like every recorded path (a relocated table
    rebases onto its actual root)."""
    from embeddinghub_spark.sources.iceberg_meta import _resolve

    cur = next(
        (s for s in (meta or {}).get("snapshots") or []
         if s["snapshot-id"] == meta.get("current-snapshot-id")),
        None,
    )
    if cur is None:
        return []
    ml = _resolve(cur["manifest-list"], path, meta.get("location"))
    _, rows = read_avro_file(ml)
    return [
        {"manifest_path": r["manifest_path"]} | {
            k: int(r.get(k) or 0)
            for k in (
                "manifest_length", "partition_spec_id", "content",
                "sequence_number", "min_sequence_number",
                "added_snapshot_id", "added_files_count",
                "existing_files_count", "deleted_files_count",
                "added_rows_count", "existing_rows_count",
                "deleted_rows_count",
            )
        }
        for r in rows
    ]


def _commit_snapshot(
    meta_dir: str,
    version: int,
    meta: dict,
    *,
    snapshot_id: int,
    seq: int,
    now_ms: int,
    new_rows: list[dict],
    carried_rows: list[dict],
    operation: str,
    added_bytes: int,
    position_deletes: list | None,
    equality_deletes: list | None,
) -> bool:
    """The commit step every snapshot-producing write shares: write
    the MANIFEST LIST (this commit's manifest rows + the carried
    ones), the snapshot record with the spec's summary, and metadata
    ``version`` = ``meta`` plus the snapshot bookkeeping (refs.main
    tracks current-snapshot-id), published put-if-absent. ``meta``
    carries ``current-schema-id`` for the snapshot's schema-id. False
    (manifest list removed) if another writer owns the version."""
    rows_out = new_rows + carried_rows
    ml_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
    )
    write_avro_file(
        ml_path,
        _manifest_list_schema(),
        rows_out,
        metadata={
            "snapshot-id": str(snapshot_id),
            "sequence-number": str(seq),
            "format-version": "2",
        },
    )

    def data_total(rows, *keys):
        # totals count DATA manifests only (content=0): a delete
        # manifest's rows are retractions, not data records
        return sum(
            int(r[k]) for r in rows if int(r.get("content") or 0) == 0
            for k in keys
        )

    deletes = bool(position_deletes or equality_deletes)
    summary = {
        "operation": operation,
        "added-data-files": str(data_total(new_rows, "added_files_count")),
        "added-records": str(data_total(new_rows, "added_rows_count")),
        "added-files-size": str(added_bytes),
        # the WHOLE snapshot: every manifest-list row, including the
        # carried ones (counting only this commit's manifest would
        # under-report total-records on every append — review find r15)
        "total-data-files": str(data_total(
            rows_out, "added_files_count", "existing_files_count"
        )),
        "total-records": str(data_total(
            rows_out, "added_rows_count", "existing_rows_count"
        )),
    }
    if deletes:
        summary.update({
            "added-delete-files": str(
                len(position_deletes or []) + len(equality_deletes or [])
            ),
            "added-position-deletes": str(
                sum(int(d[1]) for d in position_deletes or [])
            ),
            "added-equality-deletes": str(
                sum(int(d[1]) for d in equality_deletes or [])
            ),
        })
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": f"file://{ml_path}",
        "summary": summary,
        "schema-id": meta.get("current-schema-id", 0),
    }
    parent = meta.get("current-snapshot-id")
    if parent is not None and parent != -1:
        snapshot["parent-snapshot-id"] = parent
    out = dict(meta)
    out.update({
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "current-snapshot-id": snapshot_id,
        "snapshots": list(meta.get("snapshots") or []) + [snapshot],
        "snapshot-log": list(meta.get("snapshot-log") or [])
        + [{"timestamp-ms": now_ms, "snapshot-id": snapshot_id}],
    })
    # refs.main must track current-snapshot-id — Iceberg's
    # TableMetadata parser REJECTS metadata whose main branch points
    # elsewhere ('Current snapshot ID does not match main branch'), so
    # carrying a connector-created table's refs forward verbatim would
    # brick it for the Java/PyIceberg side (ADVICE r14). Other refs
    # (tags, user branches) pass through.
    out["refs"] = dict(
        meta.get("refs") or {},
        main={"snapshot-id": snapshot_id, "type": "branch"},
    )
    if _publish_metadata(meta_dir, version, out):
        return True
    os.unlink(ml_path)
    return False


# ----------------------------------------------------------------- the writer

def write_iceberg(
    df: DataFrame,
    path: str,
    *,
    mode: str = "append",
    partition_by: list[str] | None = None,
    properties: dict[str, str] | None = None,
    max_commit_retries: int = 10,
    expected_snapshot_id: int | None = None,
    carry_files: list[dict] | None = None,
    merge_schema: bool = False,
    operation: str | None = None,
    position_deletes: list[tuple] | None = None,
    equality_deletes: list[tuple] | None = None,
    trust_required: bool = False,
) -> int:
    """Commit ``df`` to an Iceberg v2 table at ``path`` (filesystem
    catalog). Returns the committed SNAPSHOT ID. See the module
    docstring for the protocol pieces and honest bounds; appends
    validate the schema against the table's current schema by
    name+type and raise on mismatch (never silently widen).

    ``partition_by`` writes an IDENTITY-partitioned table: the spec
    gets one identity field per column, data files stage through
    Spark's ``partitionBy`` (hive layout — the partition source
    columns are stripped from the files, which the spec's column
    projection rule sanctions: readers recover identity values from
    the manifest entry's TYPED partition struct, exactly what
    ``read_iceberg`` does — and what manifest-level pruning keys on).
    Identity transforms only; long/int/string/boolean partition
    column types (hive dir values round-trip losslessly); the
    partition spec of an existing table must match.

    ``expected_snapshot_id`` is the optimistic-concurrency handle for
    READ-MODIFY-WRITE callers (``merge_iceberg``): when set, a commit
    attempt against any other current snapshot raises
    ``IcebergWriteError`` instead of retrying — a retried overwrite
    built from a stale snapshot would drop the concurrent writer's
    rows (the same hazard ``merge_delta`` guards with
    ``expected_version``).

    ``carry_files`` (overwrite only) is the FILE-GRAIN copy-on-write
    handle (``merge_iceberg``): each dict ({path, rows, size,
    partition, bounds, seq, snapshot_id}) becomes an EXISTING entry in
    the new snapshot's manifest — same data file, original sequence
    number carried explicitly per the spec, bounds re-encoded — so the
    commit's data writes are proportional to the REWRITTEN files, not
    the table.

    ``merge_schema=True`` (append only) is Spark's ``mergeSchema`` on
    the spec's own terms: NEW nullable columns join the schema with
    FRESH field-ids above everything the table ever issued (ids are
    permanent), the commit appends a new schema version + advances
    ``current-schema-id`` + republishes the name mapping, and the
    DataFrame may OMIT nullable table columns (files read missing
    columns as NULL by name). Shared names must match by type; adding
    a non-nullable column, or omitting a REQUIRED table column,
    raises."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if carry_files is not None and mode != "overwrite":
        raise ValueError("carry_files requires mode='overwrite'")
    if equality_deletes is not None:
        # the CDC upsert handle (upsert_iceberg_cdc): each tuple is
        # (abs_path, rows, size, partition_dict, equality_field_ids)
        # of an equality-delete parquet, committed as content=2
        # entries of the same delete manifest the append carries —
        # the delete (seq S, kills data seq < S) and the new rows
        # (seq S, survive their own commit) land atomically
        if mode != "append":
            raise ValueError(
                "equality_deletes requires mode='append'"
            )
        if expected_snapshot_id is None:
            raise ValueError(
                "equality_deletes requires expected_snapshot_id"
            )
    if position_deletes is not None:
        # the MoR UPDATE handle (update_iceberg(strategy="mor")): each
        # tuple is (abs_path, rows, size, partition_dict) of a sorted
        # position-delete parquet already on disk; the commit appends
        # ONE content=1 delete manifest alongside the staged data —
        # atomically, because two commits would expose the updated
        # rows twice
        if mode != "append":
            raise ValueError("position_deletes requires mode='append'")
        if expected_snapshot_id is None:
            raise ValueError(
                "position_deletes requires expected_snapshot_id "
                "(row-deltas are read-modify-write by construction)"
            )
    if carry_files is not None and expected_snapshot_id is None:
        # ADVICE r15: an unpinned carry commit computed against a stale
        # snapshot could re-reference files a concurrent writer removed
        # — the same hazard write_delta guards by requiring
        # expected_version with replace_paths. Enforce the invariant
        # rather than trusting every caller to remember it.
        raise ValueError(
            "carry_files requires expected_snapshot_id (pin the "
            "snapshot the carry list was computed from)"
        )
    if operation is not None and operation not in (
        "append", "replace", "overwrite", "delete"
    ):
        raise ValueError(
            "operation must be one of the spec's snapshot operations "
            f"(append|replace|overwrite|delete), got {operation!r}"
        )
    partition_by = list(partition_by or [])
    path = os.path.realpath(os.path.abspath(path))
    meta_dir = os.path.join(path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)

    df_schema = _ice_schema(df.schema)
    df_last_id = df_schema.pop("_last_column_id")
    type_by_name = {f["name"]: f["type"] for f in df_schema["fields"]}
    for c in partition_by:
        if c not in type_by_name:
            raise ValueError(f"partition_by column {c!r} not in DataFrame")
        t = type_by_name[c]
        if not (
            isinstance(t, str)
            and t in _ICE_TO_AVRO
            and t not in ("double", "float")
        ):
            raise IcebergProtocolError(
                f"partition column {c!r} of type {t!r} "
                "not supported by the native writer (long/int/string/"
                "boolean round-trip hive dir values losslessly) — use "
                "the connector"
            )

    def _latest() -> tuple[dict | None, int]:
        if not is_iceberg_table(path):
            return None, 0
        _, version, meta = _latest_metadata(path)
        return meta, version

    def _against(prev_meta: dict | None) -> tuple[dict, int, dict, dict]:
        """(schema, last column id, partition spec, field id -> name)
        this write commits with, after the snapshot pin and the schema
        and partition contracts against ``prev_meta`` (None: a new
        table). Runs
        before staging, so a rejected write leaves no file, and again
        on every retry snapshot: a racer may have created the table or
        changed its schema since."""
        if expected_snapshot_id is not None:
            cur_sid = (prev_meta or {}).get("current-snapshot-id")
            if cur_sid in (None, -1):
                cur_sid = None
            if cur_sid != expected_snapshot_id:
                raise IcebergWriteError(
                    f"table advanced to snapshot {cur_sid} (expected "
                    f"{expected_snapshot_id}): {path}"
                )
        if prev_meta is None:
            if carry_files is not None:
                raise ValueError(
                    "carry_files on a table that does not exist"
                )
            ids = {int(f["id"]): f["name"] for f in df_schema["fields"]}
            fid = {n: i for i, n in ids.items()}
            return df_schema, df_last_id, {"spec-id": 0, "fields": [
                {"name": c, "transform": "identity", "source-id": fid[c],
                 "field-id": 1000 + i}
                for i, c in enumerate(partition_by)
            ]}, ids
        if int(prev_meta.get("format-version", 1)) != 2:
            raise IcebergProtocolError(
                "native writer only commits to format-version 2 tables"
            )
        cur_spec = _current_spec(prev_meta)
        cur = _current_schema(prev_meta)
        tbl_ids = {int(f["id"]): f["name"] for f in cur["fields"]}
        table_last_id = int(prev_meta.get("last-column-id", df_last_id))
        # the table's spec must match partition_by by SOURCE COLUMN
        # NAME, in order
        spec_src_names = _identity_columns(prev_meta)
        if spec_src_names != partition_by:
            raise IcebergWriteError(
                f"partition_by {partition_by} does not match the "
                f"table's partition spec columns {spec_src_names}"
            )
        theirs_by_name = {f["name"]: f for f in cur["fields"]}
        if mode == "append" and merge_schema:
            ours_by_name = {f["name"]: f for f in df_schema["fields"]}
            err = _merge_schema_error(*(
                {n: (json.dumps(_type_sans_ids(f["type"]), sort_keys=True),
                     bool(f.get("required")))
                 for n, f in by_name.items()}
                for by_name in (ours_by_name, theirs_by_name)
            ))
            if err:
                raise IcebergWriteError(err)
            weakened = sorted(
                n for n in set(ours_by_name) & set(theirs_by_name)
                if theirs_by_name[n].get("required")
                and not ours_by_name[n]["required"]
            )
            if weakened:
                raise IcebergWriteError(
                    f"append schema mismatch: columns {weakened} "
                    "are REQUIRED in the table but nullable in "
                    "the DataFrame"
                )
            adds_new = [
                f for f in df_schema["fields"]
                if f["name"] not in theirs_by_name
            ]
            if not adds_new:
                return cur, table_last_id, cur_spec, tbl_ids
            evolved, last_id = _fresh_ids(prev_meta, adds_new)
            new_sid = max(
                [int(s.get("schema-id", 0))
                 for s in prev_meta.get("schemas") or []],
                default=-1,
            ) + 1
            return {
                "type": "struct",
                "schema-id": new_sid,
                "fields": list(cur["fields"]) + evolved,
            }, last_id, cur_spec, tbl_ids
        if mode == "append":
            ours = [
                (f["name"], json.dumps(f["type"], sort_keys=True),
                 f["required"])
                for f in df_schema["fields"]
            ]
            theirs = [
                (f["name"], json.dumps(f["type"], sort_keys=True),
                 bool(f.get("required", False)))
                for f in cur["fields"]
            ]
            # ids may differ between our fresh assignment and the
            # table's; names+types must match exactly, and a
            # NULLABLE DataFrame column must not append into a
            # REQUIRED table column (its NULLs would violate the
            # snapshot schema; required->nullable stays legal)
            if [o[:2] for o in ours] != [t[:2] for t in theirs]:
                raise IcebergWriteError(
                    f"append schema mismatch: table has {theirs}, "
                    f"DataFrame has {ours}"
                )
            weakened = [
                o[0] for o, t in zip(ours, theirs) if t[2] and not o[2]
            ]
            if weakened and not trust_required:
                # trust_required=True is the internal MoR DML escape
                # hatch: Spark marks every file-scan / createDataFrame
                # column nullable even when the rows provably carry no
                # NULLs, and the row-delta writers verify that
                # explicitly before asking
                raise IcebergWriteError(
                    f"append schema mismatch: columns {weakened} "
                    "are REQUIRED in the table but nullable in "
                    "the DataFrame"
                )
            # reuse the TABLE's schema + name mapping so field-ids
            # stay stable across appends
            return cur, table_last_id, cur_spec, tbl_ids
        # overwrite may change the schema, but field-ids are FOREVER
        # (spec: ids are never reassigned — and the partition spec's
        # source-ids resolve against the CURRENT schema, so a fresh
        # 1..N assignment on a reordered overwrite would silently
        # repoint the spec at the wrong columns). A known name keeps
        # its id (and its list element-id, verbatim), a new name takes
        # fresh ids; a known name with a structurally different type
        # would corrupt old snapshots' projections — raise, type
        # evolution needs the connector.
        seen: dict[str, dict] = {}
        for s in prev_meta.get("schemas") or []:
            for f in s.get("fields") or []:
                seen.setdefault(f["name"], f)
        fresh, last_id = _fresh_ids(
            prev_meta,
            [f for f in df_schema["fields"] if f["name"] not in seen],
        )
        fresh_it = iter(fresh)
        remapped = []
        for f in df_schema["fields"]:
            old = seen.get(f["name"])
            if old is None:
                remapped.append(next(fresh_it))
                continue
            if _type_sans_ids(old["type"]) != _type_sans_ids(f["type"]):
                raise IcebergWriteError(
                    "overwrite changes the type of column "
                    f"{f['name']!r} ({old['type']!r} -> {f['type']!r}): "
                    "field-ids are permanent, type evolution needs the "
                    "connector"
                )
            remapped.append(dict(f, id=int(old["id"]), type=old["type"]))
        ice_schema = dict(df_schema, fields=remapped)
        if carry_files is not None:
            # carried files keep serving under the NEW snapshot's
            # schema by-name: a changed schema would silently read
            # them as NULLs for renamed/retyped columns — require
            # name+type equality with the current schema (the append
            # contract; merge_iceberg always satisfies it)
            ours0, theirs0 = ([
                (f["name"],
                 json.dumps(_type_sans_ids(f["type"]), sort_keys=True))
                for f in s["fields"]
            ] for s in (ice_schema, cur))
            if ours0 != theirs0:
                raise IcebergWriteError(
                    "carry_files requires the DataFrame schema to "
                    f"match the table's current schema: table has "
                    f"{theirs0}, DataFrame has {ours0}"
                )
            # a live DELETE manifest scopes rows out of the carried
            # files; the overwrite manifest list references only our
            # new data manifest, so carrying files past their delete
            # files would silently RESURRECT deleted rows. Loud gate;
            # merge_iceberg routes delete-bearing tables to the full
            # rebuild before ever reaching here.
            if any(r["content"] == 1
                   for r in _carried_manifest_rows(path, prev_meta)):
                raise IcebergProtocolError(
                    "carry_files over a snapshot with live DELETE "
                    "manifests would resurrect deleted rows — "
                    "apply the deletes first (full-rebuild "
                    "overwrite) or use the connector"
                )
        return ice_schema, last_id, cur_spec, tbl_ids

    def _typed_pval(col: str, raw: str | None):
        t = type_by_name[col]
        if raw is None or t not in ("long", "int", "boolean"):
            return raw  # NULL, or a string (already unquoted)
        return raw.lower() == "true" if t == "boolean" else int(raw)

    _against(_latest()[0])
    # (abs, rows, bytes, {partition col: typed value}, bounds)
    data_files = [
        (fp, rows, size, {c: _typed_pval(c, v) for c, v in pvals.items()},
         bounds)
        for _rel, fp, rows, size, pvals, bounds in _stage(
            df, path, os.path.join(path, "data"), partition_by
        )
    ]

    for _attempt in range(max_commit_retries):
        prev_meta, prev_version = _latest()
        ice_schema, last_column_id, spec, tbl_ids = _against(prev_meta)
        snapshot_id = max([
            int(s["snapshot-id"])
            for s in (prev_meta or {}).get("snapshots") or []
        ], default=0) + 1
        seq = int((prev_meta or {}).get("last-sequence-number", 0)) + 1
        now_ms = int(time.time() * 1000)

        # ---- the partition spec (existing verbatim, or fresh):
        # source column -> spec field name, which manifests key
        # partition values by
        pname_by_col = {
            tbl_ids.get(int(pf["source-id"])): pf["name"]
            for pf in spec.get("fields") or []
        }
        spec_field_defs = [
            (pf["name"],
             type_by_name.get(tbl_ids.get(int(pf["source-id"])), "string"),
             int(pf["field-id"]))
            for pf in spec.get("fields") or []
        ]

        # ---- manifest of ADDED entries (sequence numbers inherit)
        man_name = f"m-{uuid.uuid4().hex}.avro"
        man_path = os.path.join(meta_dir, man_name)
        fid_map = {
            f["name"]: int(f["id"]) for f in ice_schema["fields"]
        }
        ice_types = {
            f["name"]: f["type"] for f in ice_schema["fields"]
            if isinstance(f["type"], str)
        }

        def _bound_rows(bounds: dict, idx: int) -> list | None:
            from embeddinghub_spark.sources.parquet_stats import (
                truncated_lower,
                truncated_upper,
            )

            rows_ = []
            for cname, pair in sorted(bounds.items()):
                t = ice_types.get(cname)
                if t is None or cname not in fid_map:
                    continue
                v = pair[idx]
                if isinstance(v, str):
                    # the spec's truncate(16) metrics contract: lower
                    # bounds truncate, upper bounds truncate-and-
                    # increment (or drop — under-prune only). Already-
                    # short values pass through, so re-encoding carried
                    # bounds is idempotent.
                    v = (
                        truncated_lower(v, _MANIFEST_STRING_PREFIX)
                        if idx == 0
                        else truncated_upper(v, _MANIFEST_STRING_PREFIX)
                    )
                    if v is None:
                        continue
                enc = encode_bound(t, v)
                if enc is not None:
                    rows_.append({"key": fid_map[cname], "value": enc})
            return rows_ or None

        carried = list(carry_files or [])
        write_avro_file(
            man_path,
            _manifest_entry_schema(spec_field_defs),
            [
                _manifest_entry(
                    1, snapshot_id, None, 0, fp,  # ADDED
                    {pname_by_col[c]: v for c, v in pvals.items()},
                    rows, size, _bound_rows(bounds, 0),
                    _bound_rows(bounds, 1),
                )
                for fp, rows, size, pvals, bounds in data_files
            ]
            + [
                # EXISTING: same data file carried forward at file
                # grain; the spec requires its ORIGINAL sequence
                # number explicitly (inheritance is for ADDED)
                _manifest_entry(
                    0, cf.get("snapshot_id"), int(cf["seq"]), 0,
                    cf["path"], dict(cf.get("partition") or {}),
                    cf["rows"], cf["size"],
                    _bound_rows(cf.get("bounds") or {}, 0),
                    _bound_rows(cf.get("bounds") or {}, 1),
                )
                for cf in carried
            ],
            metadata=_manifest_header(ice_schema, spec, "data"),
        )
        new_row = {
            "manifest_path": f"file://{man_path}",
            "manifest_length": os.path.getsize(man_path),
            "partition_spec_id": int(spec.get("spec-id", 0)),
            "content": 0,  # data
            "sequence_number": seq,
            "min_sequence_number": min(
                [seq] + [int(cf["seq"]) for cf in carried]
            ),
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(data_files),
            "existing_files_count": len(carried),
            "deleted_files_count": 0,
            "added_rows_count": sum(r for _, r, _, _, _ in data_files),
            "existing_rows_count": sum(
                int(cf["rows"]) for cf in carried
            ),
            "deleted_rows_count": 0,
        }
        new_rows = [new_row]
        if position_deletes or equality_deletes:
            new_rows.append(_write_delete_manifest(
                meta_dir, snapshot_id, seq, ice_schema, spec,
                spec_field_defs, position_deletes, equality_deletes,
            ))
        carried_rows = (
            _carried_manifest_rows(path, prev_meta)
            if mode == "append" else []
        )

        props = dict((prev_meta or {}).get("properties") or {})
        props["schema.name-mapping.default"] = _name_mapping_json(
            ice_schema
        )
        props.update(properties or {})
        schemas = list((prev_meta or {}).get("schemas") or [])
        schema_id = ice_schema.get("schema-id", 0)
        if not any(
            s.get("schema-id") == schema_id and s == ice_schema
            for s in schemas
        ):
            if prev_meta is not None and mode == "overwrite":
                # overwrite may change the schema: new schema-id
                new_sid = max(
                    [int(s.get("schema-id", 0)) for s in schemas],
                    default=-1,
                ) + 1
                existing = next(
                    (s for s in schemas
                     if [f["name"] for f in s["fields"]]
                     == [f["name"] for f in ice_schema["fields"]]
                     and [json.dumps(f["type"], sort_keys=True)
                          for f in s["fields"]]
                     == [json.dumps(f["type"], sort_keys=True)
                         for f in ice_schema["fields"]]),
                    None,
                )
                if existing is not None:
                    ice_schema = existing
                    schema_id = existing.get("schema-id", 0)
                else:
                    ice_schema = dict(ice_schema, **{"schema-id": new_sid})
                    schema_id = new_sid
                    schemas.append(ice_schema)
                props["schema.name-mapping.default"] = (
                    _name_mapping_json(ice_schema)
                )
            else:
                schemas.append(ice_schema)
        # START from the previous metadata so fields this writer does
        # not manage (refs/branches, statistics, a connector's sort
        # orders, snapshot-log history, ...) survive the commit —
        # rebuilding from scratch silently deleted them (review find
        # r14); then override exactly what this commit changes. The
        # recorded location stays: older manifests and delete files
        # name paths under it, which readers rebase onto the actual
        # root of a relocated table.
        meta_out = dict(prev_meta or {})
        meta_out.update({
            "format-version": 2,
            "table-uuid": (prev_meta or {}).get(
                "table-uuid", str(uuid.uuid4())
            ),
            "location": (prev_meta or {}).get("location")
            or f"file://{path}",
            "last-column-id": max(
                last_column_id,
                int((prev_meta or {}).get("last-column-id", 0)),
            ),
            "schemas": schemas,
            "current-schema-id": schema_id,
            "partition-specs": (
                prev_meta.get("partition-specs")
                if prev_meta is not None and prev_meta.get("partition-specs")
                else [spec]
            ),
            "default-spec-id": int(spec.get("spec-id", 0)),
            "last-partition-id": max(
                [999] + [int(pf["field-id"])
                         for pf in spec.get("fields") or []]
            ),
            "properties": props,
        })
        meta_out.setdefault("sort-orders", [{"order-id": 0,
                                             "fields": []}])
        meta_out.setdefault("default-sort-order-id", 0)
        if _commit_snapshot(
            meta_dir, prev_version + 1, meta_out,
            snapshot_id=snapshot_id, seq=seq, now_ms=now_ms,
            new_rows=new_rows, carried_rows=carried_rows,
            # a row-delta (position/equality deletes) is the spec's
            # "overwrite" snapshot unless the caller overrides;
            # compaction commits "replace" so readers know the data
            # set is unchanged
            operation=operation or (
                "overwrite"
                if (position_deletes or equality_deletes) else mode
            ),
            added_bytes=sum(sz for _, _, sz, _, _ in data_files),
            position_deletes=position_deletes,
            equality_deletes=equality_deletes,
        ):
            return snapshot_id
        # lost the race: clean our manifests and retry
        for r in new_rows:
            try:
                os.unlink(re.sub(r"^file:/*", "/", r["manifest_path"]))
            except OSError:
                pass
    raise IcebergWriteError(
        f"lost the commit race {max_commit_retries} times: {path}"
    )


def create_iceberg_ref(
    path: str,
    name: str,
    snapshot_id: int | None = None,
    *,
    ref_type: str = "tag",
) -> None:
    """Mint a named TAG or BRANCH ref pointing at ``snapshot_id``
    (default: the current snapshot) — a metadata-only commit, the
    connector's ``ALTER TABLE … CREATE TAG/BRANCH``. Tags are how a
    training run pins the exact dataset snapshot it consumed:
    ``read_iceberg(ref="run-2024-07")`` reproduces the read forever,
    and ``expire_iceberg_snapshots`` PROTECTS ref'd snapshots (r15),
    so the pin survives retention. ``main`` is reserved — it always
    tracks current-snapshot-id. Re-creating an existing name
    retargets it (the connector's REPLACE semantics).

    Branches minted here are READ-ONLY PINS (ADVICE r15): this
    writer commits exclusively to ``main`` — every commit re-points
    ``refs.main`` and passes other refs through verbatim — so a
    ``ref_type="branch"`` ref never advances and is functionally a
    tag that real engines may later write to (e.g. the connector's
    ``writeTo(...).branch(name)``). Writing to a non-main branch
    through THIS writer is not supported; re-create or drop the ref
    to move it."""
    if name == "main":
        raise ValueError("'main' is reserved: it tracks the current "
                         "snapshot")
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref_type must be tag|branch, got {ref_type!r}")
    path = os.path.realpath(os.path.abspath(path))
    meta_dir, prev_version, meta = _latest_metadata(path)
    known = {int(s["snapshot-id"]) for s in meta.get("snapshots") or []}
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
        if snapshot_id in (None, -1):
            raise ValueError(f"table has no current snapshot: {path}")
    snapshot_id = int(snapshot_id)
    if snapshot_id not in known:
        raise ValueError(
            f"snapshot {snapshot_id} not in table {sorted(known)}"
        )
    meta_out = dict(meta)
    refs = dict(meta.get("refs") or {})
    refs[name] = {"snapshot-id": snapshot_id, "type": ref_type}
    meta_out["refs"] = refs
    if not _publish_metadata(meta_dir, prev_version + 1, meta_out):
        raise IcebergWriteError(
            f"lost the ref commit race at version {prev_version + 1}: {path}"
        )


def drop_iceberg_ref(path: str, name: str) -> None:
    """Remove a named tag/branch — metadata-only commit. Dropping a
    tag releases its snapshot back to normal retention (the next
    ``expire_iceberg_snapshots`` may prune it). ``main`` cannot be
    dropped; unknown names raise."""
    if name == "main":
        raise ValueError("'main' cannot be dropped")
    path = os.path.realpath(os.path.abspath(path))
    meta_dir, prev_version, meta = _latest_metadata(path)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(
            f"ref {name!r} not in table refs {sorted(refs)}"
        )
    del refs[name]
    meta_out = dict(meta)
    meta_out["refs"] = refs
    if not _publish_metadata(meta_dir, prev_version + 1, meta_out):
        raise IcebergWriteError(
            f"lost the ref commit race at version {prev_version + 1}: {path}"
        )


def expire_iceberg_snapshots(
    path: str,
    *,
    keep_last: int = 1,
    dry_run: bool = False,
) -> dict:
    """Expire all but the newest ``keep_last`` snapshots (the current
    snapshot always survives): commit a new metadata version with the
    pruned snapshot list (the same put-if-absent discipline as
    ``write_iceberg``), then delete the manifest lists, manifests and
    DATA FILES no retained snapshot references. Time travel to an
    expired snapshot raises by construction (it is no longer in the
    metadata) — the connector's ``expireSnapshots`` contract.

    Returns ``{"expired": [snapshot ids], "deleted": [paths]}``;
    ``dry_run`` reports without committing or deleting."""
    from embeddinghub_spark.sources.iceberg_meta import _resolve

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    path = os.path.realpath(os.path.abspath(path))
    meta_dir, prev_version, meta = _latest_metadata(path)
    snaps = list(meta.get("snapshots") or [])
    if len(snaps) <= keep_last:
        return {"expired": [], "deleted": []}
    ordered = sorted(snaps, key=lambda s: int(s.get("sequence-number",
                                                    s["snapshot-id"])))
    cur_id = meta.get("current-snapshot-id")
    retained = ordered[-keep_last:]
    if cur_id not in {s["snapshot-id"] for s in retained}:
        retained.append(
            next(s for s in snaps if s["snapshot-id"] == cur_id)
        )
    # snapshots referenced by refs (tags, user branches) are PROTECTED
    # from expiry — the connector's expireSnapshots contract, and the
    # only way the surviving metadata keeps every ref resolvable
    # (Iceberg's TableMetadata parser rejects a ref whose snapshot is
    # gone; ADVICE r14). refs.main tracks cur_id, already retained.
    known = {s["snapshot-id"] for s in snaps}
    for ref in (meta.get("refs") or {}).values():
        rid = ref.get("snapshot-id")
        if rid in known and rid not in {
            s["snapshot-id"] for s in retained
        }:
            retained.append(
                next(s for s in snaps if s["snapshot-id"] == rid)
            )
    retained_ids = {s["snapshot-id"] for s in retained}
    expired = sorted(
        s["snapshot-id"] for s in snaps
        if s["snapshot-id"] not in retained_ids
    )

    def _referenced(snapshot_ids) -> set[str]:
        refs: set[str] = set()
        location = meta.get("location")
        for sid in snapshot_ids:
            refs.update(_snapshot_files(path, sid))
            s = next(x for x in snaps if x["snapshot-id"] == sid)
            ml = _resolve(s["manifest-list"], path, location)
            refs.add(ml)
            _, mrows = read_avro_file(ml)
            for m in mrows:
                refs.add(_resolve(m["manifest_path"], path, location))
        return refs

    keep_refs = _referenced(sorted(retained_ids))
    dead_refs = _referenced(expired) - keep_refs
    victims = sorted(dead_refs)
    if dry_run:
        return {"expired": expired, "deleted": victims}

    meta_out = dict(meta)
    # retained snapshots may reference an expired parent-snapshot-id;
    # the spec allows that (readers treat lineage as advisory) and the
    # connector's expireSnapshots leaves them dangling the same way
    meta_out["snapshots"] = [
        s for s in snaps if s["snapshot-id"] in retained_ids
    ]
    # the snapshot-log must not point at expired snapshots — Iceberg's
    # TableMetadata parser REJECTS a log entry whose snapshot is gone
    # (review find r14), so prune it the way expireSnapshots does
    if meta_out.get("snapshot-log"):
        meta_out["snapshot-log"] = [
            e for e in meta_out["snapshot-log"]
            if e.get("snapshot-id") in retained_ids
        ]
    if not _publish_metadata(meta_dir, prev_version + 1, meta_out):
        raise IcebergWriteError(
            f"lost the expire commit race at version "
            f"{prev_version + 1}: {path}"
        )
    for fp in victims:
        try:
            os.unlink(fp)
        except OSError:
            pass
    return {"expired": expired, "deleted": victims}


def _snapshot_files(path: str, snapshot_id: int) -> set[str]:
    """Every data and delete file snapshot ``snapshot_id`` reads."""
    from embeddinghub_spark.sources.iceberg_meta import iceberg_snapshot

    snap = iceberg_snapshot(path, snapshot_id)
    return set(snap["files"]) | set(snap["position_deletes"]) | {
        d["path"] for d in snap["equality_deletes"]
    }


def remove_orphan_iceberg_files(
    path: str,
    *,
    retain_ms: int = 3 * 24 * 3600 * 1000,
    now_ms: int | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Delete parquet files under the table root (``metadata/`` is
    never entered) that NO snapshot in the table metadata references
    and whose modification time is older than the retention window,
    plus crashed writers' whole ``_staging_*`` dirs — the connector's
    ``removeOrphanFiles`` (crashed writers and lost commit races
    leave staged-and-moved files behind; the retention default, 3
    days like the connector's, protects an in-flight writer whose
    files exist but whose commit hasn't landed yet). Returns the
    deleted (or with ``dry_run`` the would-be-deleted) paths.
    Metadata files are never touched."""
    from embeddinghub_spark.sources.iceberg_meta import _latest_metadata_file

    path = os.path.realpath(os.path.abspath(path))
    with open(_latest_metadata_file(path), encoding="utf-8") as fh:
        meta = json.load(fh)
    keep = set().union(*(
        _snapshot_files(path, s["snapshot-id"])
        for s in meta.get("snapshots") or []
    ))
    return _sweep_orphans(
        path, keep, (".parquet",), ("metadata",), retain_ms, now_ms,
        dry_run,
    )


def merge_iceberg(
    spark,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    *,
    strategy: str = "cow",
    max_mor_rows: int = 1_000_000,
) -> int:
    """MERGE upsert into a native Iceberg table — S12 semantics (WHEN
    MATCHED → UPDATE all source columns, WHEN NOT MATCHED → INSERT;
    ``tables.merge_upsert_df`` is the shared DataFrame expression)
    committed as ONE snapshot, so readers see the old snapshot or the
    new one, never a gap. Planned by ``sources/row_dml.py`` (manifest
    bounds prune → exact probe → commit). Returns the committed
    snapshot id; the pre-merge state stays time-travelable at the
    previous snapshot.

    ``strategy="cow"`` (default) — FILE-PRUNED copy-on-write (VERDICT
    r14 #3): only the data files that actually hold a source key are
    rewritten; every other live file carries forward as an EXISTING
    manifest entry with its original sequence number
    (``write_iceberg(carry_files=…)``), so a 0.1% upsert writes ~0.1%
    of the table. Tables with merge-on-read deletes or files from an
    evolved spec fall back to the full rebuild — rewriting a subset of
    files cannot carry delete files whose scope spans both subsets.

    ``strategy="mor"`` — the spec's row-delta "overwrite" snapshot:
    position-delete the matched TARGET rows and append EVERY source row
    (updated image or insert) as new data files, in one atomic
    ``write_iceberg(position_deletes=…)`` append — bytes written ∝
    |source| + |matched rows|; an insert-only merge is a plain pinned
    append. It STACKS on existing MoR deletes (a redundant delete
    position for an already-dead row is a no-op for the anti-join
    read). The restrictions of ``delete_iceberg(strategy="mor")``
    apply.

    Read-modify-write safety: the commit pins ``expected_snapshot_id``
    to the snapshot the merge was computed against — a concurrent
    commit in between raises ``IcebergWriteError`` (re-invoke to
    retry against the new state) instead of silently dropping the
    winner's rows."""
    from embeddinghub_spark.sources import row_dml
    from embeddinghub_spark.sources.iceberg_meta import iceberg_snapshot

    row_dml.check_strategy(strategy)
    # the source subtree feeds the key-range agg, the exact probe, and
    # merge_upsert_df (twice) — compute it once
    source = source.localCheckpoint(eager=False)
    table = _dml_table(spark, path, iceberg_snapshot(path))
    return row_dml.merge(table, source, key_cols, strategy, max_mor_rows)


def upsert_iceberg_cdc(
    spark,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    *,
    properties: dict[str, str] | None = None,
    checkpoint_source: bool = True,
) -> int:
    """Streaming-shaped UPSERT via EQUALITY DELETE writes — the Flink
    CDC writer's upsert mode, natively: ONE commit appends the source
    rows AND an equality-delete file naming the source keys (spec
    content=2, ``equality_ids`` = the key columns' field ids), so
    every pre-existing row with a source key dies (its data sequence
    number is strictly below the delete's) while the appended rows
    survive their own commit. ZERO table reads: unlike
    ``merge_iceberg`` there is no probe, no stats pruning, no touched
    files — commit cost is O(|source| + manifest-list rows), which is
    what a per-micro-batch streaming sink needs at 100 TB.

    The cost moves to READ time (every scan anti-joins the
    accumulated delete files) — run ``compact_iceberg`` or any COW
    DML periodically to fold them, exactly like Flink deployments
    schedule rewrite_data_files. Source keys must be non-null
    (equality NULL semantics differ across engines — raise instead of
    miswriting); the batch must be KEY-UNIQUE (raises — resolving
    which duplicate is latest needs an ordering column the caller
    owns); the table must be UNPARTITIONED (a partitioned
    spec's equality deletes are partition-scoped — grouping source
    keys needs the partition columns inside the key; use
    ``merge_iceberg`` there). ``properties`` merge into the table
    properties IN THE SAME COMMIT — the atomic watermark hook the
    streaming sink uses for exactly-once batch application. Returns
    the committed snapshot id."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from embeddinghub_spark.sources.iceberg_meta import (
        iceberg_snapshot,
    )

    path = os.path.realpath(os.path.abspath(path))
    # the source subtree feeds the key-contract aggregate, the staged
    # write and the required-null probe; compute it once — bytes cached
    # ∝ |source|. checkpoint_source=False is the streaming-sink handle
    # (the sink already checkpointed the batch).
    if checkpoint_source:
        source = source.localCheckpoint(eager=False)
    snap = iceberg_snapshot(path)
    if snap["snapshot_id"] is None:
        raise IcebergWriteError(
            "upsert_iceberg_cdc needs an existing snapshot — "
            "write_iceberg the first batch"
        )
    meta = snap["metadata"]
    ctx = _iceberg_table_context(path, snap)
    if ctx["partition_by"]:
        raise IcebergProtocolError(
            "equality-delete upsert on a PARTITIONED table — the "
            "spec scopes equality deletes to their partition; use "
            "merge_iceberg"
        )
    cols = [f.name for f in snap["schema"].fields]
    missing = sorted(set(key_cols) - set(cols))
    if missing:
        raise ValueError(f"key columns {missing} not in table schema")
    src_rows = source.select(*cols)
    # ONE aggregate job yields the distinct keys (needed below for the
    # equality-delete file anyway) AND the two batch-contract probes —
    # the null-key and duplicate-key checks used to be two extra
    # actions each re-executing the source subtree (r17):
    # - non-null keys regardless of schema nullability (see
    #   docstring): checked FIRST so a null key gets its message;
    # - KEY-UNIQUE batch: duplicate-key rows would BOTH land and BOTH
    #   survive (same sequence number), silently violating upsert
    #   semantics — which duplicate is "latest" needs an ordering
    #   column this function does not have, so the caller resolves it
    #   (review find r16).
    keys_pdf = (
        source.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(*key_cols)
        .toPandas()
    )
    if keys_pdf[key_cols].isna().any().any():
        raise IcebergWriteError(
            f"NULL in key column(s) {key_cols} — equality deletes "
            "cannot name NULL keys portably"
        )
    dups = keys_pdf[keys_pdf["_n"] > 1]
    if len(dups):
        raise IcebergWriteError(
            f"duplicate keys in the upsert batch (e.g. "
            f"{[dups.iloc[0][c] for c in key_cols]}) — resolve to one "
            "row per key before upsert_iceberg_cdc"
        )
    keys_pdf = keys_pdf.drop(columns=["_n"])
    _assert_no_nulls_in_required(src_rows, snap["schema"])

    # ---- the equality-delete parquet: DISTINCT source keys with the
    # table's field-ids on the key columns (how real engines map them)
    fid_by_name = {
        f["name"]: int(f["id"]) for f in _current_schema(meta)["fields"]
    }
    eq_ids = [fid_by_name[c] for c in key_cols]
    tbl = pa.Table.from_pandas(keys_pdf, preserve_index=False)
    fields = []
    for i, c in enumerate(key_cols):
        f = tbl.schema.field(tbl.schema.get_field_index(c))
        fields.append(f.with_metadata(
            {b"PARQUET:field_id": str(eq_ids[i]).encode()}
        ))
    tbl = tbl.cast(pa.schema(fields))
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    del_fp = os.path.join(
        data_dir, f"eq-delete-{uuid.uuid4().hex}.parquet"
    )
    pq.write_table(tbl, del_fp)
    eq_files = [(
        del_fp, len(keys_pdf), os.path.getsize(del_fp), {}, eq_ids
    )]
    return write_iceberg(
        src_rows,
        path,
        mode="append",
        expected_snapshot_id=snap["snapshot_id"],
        equality_deletes=eq_files,
        operation="overwrite",
        trust_required=True,
        properties=properties,
    )


def _dml_table(spark, path: str, snap: dict):
    """The Iceberg facts of one ``row_dml`` call, pinned to ``snap``:
    manifest-bound pruning, a ``_scan_parquet`` scan, carry-forward
    rewrites (cow) and position-delete row deltas (mor). The current
    identity spec gates here, before any data file is written
    (non-identity transforms raise); live MoR deletes or evolved-spec
    files route cow ops to the full rebuild."""
    from pyspark.sql import functions as F

    from embeddinghub_spark.sources.iceberg_meta import (
        _drop_position_deleted,
        _scan_parquet,
        read_iceberg,
    )
    from embeddinghub_spark.sources.row_dml import DmlTable
    from embeddinghub_spark.sources.scan_prune import decoded_file_path_col

    path = os.path.realpath(os.path.abspath(path))
    ctx = _iceberg_table_context(path, snap)
    bounds = snap.get("file_bounds") or {}
    cols = [f.name for f in snap["schema"].fields]
    pinned = dict(
        partition_by=ctx["partition_by"],
        expected_snapshot_id=snap["snapshot_id"],
    )

    def scan(files: list[str], keep_meta: bool) -> DataFrame:
        if not files:
            return spark.createDataFrame([], snap["schema"])
        rows = _scan_parquet(spark, snap, files, with_meta=keep_meta)
        if not keep_meta:
            return rows
        return rows.select(
            *cols, decoded_file_path_col(F.col("_raw_fp")).alias("_fp"),
            "_pos",
        )

    def rewrite(rows: DataFrame, touched: list[str] | None) -> int:
        return write_iceberg(
            rows, path, mode="overwrite",
            carry_files=(
                None if touched is None
                else _iceberg_carry(snap, set(touched))
            ),
            **pinned,
        )

    def row_delta(rows, hits: dict, op: str, assigned=()) -> int:
        if rows is None:
            return _commit_position_deletes(
                path, snap, _position_deletes(path, snap, hits)
            )
        required = [
            f.name for f in snap["schema"].fields
            if f.name in assigned and not f.nullable
        ]
        if required and rows.filter(F.greatest(*[
            F.col(c).isNull().cast("int") for c in required
        ] + [F.lit(0)]) > 0).take(1):
            raise IcebergWriteError(
                f"UPDATE assigns NULL into REQUIRED column(s) {required}"
            )
        # Spark marks every file-scan column nullable even when the
        # rows provably carry no NULLs: verify at runtime, then
        # trust_required lets the append validation through
        _assert_no_nulls_in_required(rows, snap["schema"])
        deletes = _position_deletes(path, snap, hits)
        return write_iceberg(
            rows, path, mode="append", position_deletes=deletes,
            trust_required=True, **pinned,
        )

    def live(rows: DataFrame) -> DataFrame:
        if snap["equality_deletes"]:
            # applying equality-delete semantics inside the probe needs
            # the sequence-number join — the cow full rewrite owns that
            raise IcebergProtocolError(
                "MoR UPDATE over live equality deletes — use "
                "strategy='cow'"
            )
        if not snap["position_deletes"]:
            return rows
        return _drop_position_deleted(spark, snap, path, rows)

    return DmlTable(
        name="iceberg",
        schema=snap["schema"],
        partition_by=ctx["partition_by"],
        files=list(snap["files"]),
        bounds=lambda f: bounds.get(f) or {},
        fp=lambda f: f,
        scan=scan,
        date_as="date",
        rewrite=rewrite,
        row_delta=row_delta,
        full_table=(
            (lambda: read_iceberg(spark, path,
                                  snapshot_id=snap["snapshot_id"]))
            if ctx["full_rewrite"] else None
        ),
        live=live,
    )


def _iceberg_table_context(path: str, snap: dict) -> dict:
    """Shared DML planning facts: current identity partition_by,
    whether any file left the current spec, and whether MoR deletes
    are live — the conditions that route a row-level op to the full
    rewrite instead of the file-pruned path."""
    meta = snap["metadata"]
    cur_spec = _current_spec(meta)
    partition_by = _identity_columns(meta)
    fparts = snap.get("file_partitions") or {}
    cur_spec_id = int(cur_spec.get("spec-id", 0))
    multi_spec = any(
        int((fparts.get(f) or (cur_spec_id, {}))[0]) != cur_spec_id
        for f in snap["files"]
    )
    mor = bool(snap["position_deletes"] or snap["equality_deletes"])
    return {"partition_by": partition_by, "full_rewrite": mor or multi_spec}


def _iceberg_carry(snap: dict, exclude: set) -> list[dict]:
    """carry_files entries for every live file NOT in ``exclude``.
    ``snapshot_id`` is the file's ORIGINAL adding snapshot (resolved
    through v2 inheritance by iceberg_snapshot) so the EXISTING
    manifest entry keeps attributing the file to the commit that
    added it — a null there would resolve to the NEW commit's id
    under inheritance, corrupting provenance (ADVICE r15)."""
    fparts = snap.get("file_partitions") or {}
    bounds = snap.get("file_bounds") or {}
    fsids = snap.get("file_snapshot_ids") or {}
    return [
        {
            "path": f,
            "rows": snap["file_rows"].get(f, 0),
            "size": snap["file_sizes"].get(f, 0),
            "partition": (fparts.get(f) or (None, {}))[1],
            "bounds": bounds.get(f) or {},
            "seq": snap["file_seqs"].get(f, 0),
            "snapshot_id": fsids.get(f),
        }
        for f in snap["files"]
        if f not in exclude
    ]


def delete_iceberg(
    spark,
    path: str,
    condition,
    *,
    range_filter: dict | None = None,
    strategy: str = "cow",
    max_mor_rows: int = 1_000_000,
) -> int | None:
    """Row-level DELETE WHERE ``condition``, planned by
    ``sources/row_dml.py``.

    ``strategy="cow"`` (default) — copy-on-write at file grain: only
    files actually holding a matching row rewrite (kept rows =
    condition false or NULL); every other file carries forward as an
    EXISTING manifest entry with its original sequence number. Tables
    with live MoR deletes or an evolved spec take the full purge
    rewrite.

    ``strategy="mor"`` — merge-on-read via native POSITION DELETE
    files (the spec's content=1 delete manifests, r16): no data file
    is rewritten; the matched (file_path, pos) pairs land in one
    sorted position-delete parquet per partition (field-ids
    2147483546/2147483545 per the spec), committed as a ``delete``
    snapshot whose ONE new delete manifest joins the carried manifest
    list — bytes written ∝ the DELETED ROWS. The read path (and any
    real engine) applies them as the position-delete anti-join.
    Probing does NOT apply existing deletes: re-deleting an
    already-dead row writes a redundant pair, which the anti-join read
    treats as a no-op. Matched positions are collected for the commit;
    ``max_mor_rows`` caps the collect and raises toward ``cow`` for
    mass deletes. Tables whose touched files left the current spec
    raise toward ``cow`` (one delete manifest carries one partition
    spec).

    Returns the committed snapshot id, or None when nothing
    matched."""
    from embeddinghub_spark.sources import row_dml
    from embeddinghub_spark.sources.iceberg_meta import iceberg_snapshot

    row_dml.check_strategy(strategy)
    table = _dml_table(spark, path, iceberg_snapshot(path))
    return row_dml.delete(
        table, condition, range_filter, strategy, max_mor_rows
    )


def _assert_no_nulls_in_required(df, schema) -> None:
    """Loud runtime twin of the append nullability rule for the MoR
    DML writers: the staged rows must carry NO NULL in any column the
    TABLE schema marks required (their Spark-side nullability flag is
    meaningless — file scans and createDataFrame mark everything
    nullable). One short-circuit take(1)."""
    from pyspark.sql import functions as F

    required = [f.name for f in schema.fields if not f.nullable]
    present = [c for c in required if c in df.columns]
    if not present:
        return
    cond = None
    for c in present:
        piece = F.col(c).isNull()
        cond = piece if cond is None else cond | piece
    if df.filter(cond).take(1):
        raise IcebergWriteError(
            f"staged rows carry NULL in REQUIRED column(s) {present}"
        )


def _position_deletes(path: str, snap: dict, hits: dict) -> list[tuple]:
    """Write the MoR commit's position-delete files: one SORTED parquet
    per touched partition of ``hits`` ({data file: positions}) with
    the spec's reserved field-ids 2147483546/2147483545, each pair
    recording ``file://<resolved path>`` — the exact string this
    writer's manifests carry for data files. Returns [(abs_path, rows,
    size, partition_dict), …] ([] without hits). Every hit file must
    sit in the table's current spec: one delete manifest carries one
    partition spec (evolved-spec tables raise toward ``cow``)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = snap["metadata"]
    if int(meta.get("format-version", 1)) != 2:
        raise IcebergProtocolError(
            "position-delete writes need a format-version 2 table"
        )
    spec_id = int(_current_spec(meta).get("spec-id", 0))
    fparts = snap.get("file_partitions") or {}
    by_part: dict[tuple, list[str]] = {}
    for fp in sorted(hits):
        sid, part = fparts.get(fp) or (spec_id, {})
        if int(sid) != spec_id:
            raise IcebergProtocolError(
                f"touched file under spec {sid} != current {spec_id} — "
                "use strategy='cow' for evolved-spec tables"
            )
        by_part.setdefault(tuple(sorted(dict(part).items())), []).append(fp)
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    pos_schema = pa.schema([
        pa.field("file_path", pa.string(), nullable=False,
                 metadata={b"PARQUET:field_id": b"2147483546"}),
        pa.field("pos", pa.int64(), nullable=False,
                 metadata={b"PARQUET:field_id": b"2147483545"}),
    ])
    delete_files: list[tuple] = []
    for key in sorted(by_part):
        fps = by_part[key]  # sorted, so (file_path, pos) pairs sort
        pos = [np.sort(hits[fp]) for fp in fps]
        fp_out = os.path.join(
            data_dir, f"delete-{uuid.uuid4().hex}.parquet"
        )
        pq.write_table(
            pa.table(
                {"file_path": np.repeat(
                    np.asarray([f"file://{fp}" for fp in fps],
                               dtype=object),
                    [p.size for p in pos],
                ),
                 "pos": np.concatenate(pos)},
                schema=pos_schema,
            ),
            fp_out,
        )
        delete_files.append((
            fp_out, int(sum(p.size for p in pos)),
            os.path.getsize(fp_out), dict(key),
        ))
    return delete_files


def _commit_position_deletes(path: str, snap: dict, deletes: list) -> int:
    """The MoR DELETE commit: a ``delete`` snapshot of the APPEND shape
    — every current manifest-list row carries forward verbatim and ONE
    new content=1 manifest holds ``deletes``; data manifests are
    untouched, so commit cost is O(deleted rows + manifest-list rows).
    Pinned to ``snap``: a concurrent commit raises."""
    meta_dir, version, meta = _latest_metadata(path)
    if meta.get("current-snapshot-id") != snap["snapshot_id"]:
        raise IcebergWriteError(
            f"table advanced to snapshot {meta.get('current-snapshot-id')}"
            f" (expected {snap['snapshot_id']}): {path}"
        )
    spec = _current_spec(meta)
    schema = _current_schema(meta)
    type_by_id = {
        int(f["id"]): f["type"] for f in schema["fields"]
        if isinstance(f.get("type"), str)
    }
    snapshot_id = max(
        [int(s["snapshot-id"]) for s in meta.get("snapshots") or []],
        default=0,
    ) + 1
    seq = int(meta.get("last-sequence-number", 0)) + 1
    row = _write_delete_manifest(
        meta_dir, snapshot_id, seq, schema, spec,
        [(pf["name"], type_by_id.get(int(pf["source-id"]), "string"),
          int(pf["field-id"])) for pf in spec.get("fields") or []],
        deletes, None,
    )
    if _commit_snapshot(
        meta_dir, version + 1, meta,
        snapshot_id=snapshot_id, seq=seq,
        now_ms=int(time.time() * 1000),
        new_rows=[row],
        carried_rows=_carried_manifest_rows(path, meta),
        operation="delete", added_bytes=0,
        position_deletes=deletes, equality_deletes=None,
    ):
        return snapshot_id
    os.unlink(re.sub(r"^file:/*", "/", row["manifest_path"]))
    raise IcebergWriteError(
        f"lost the commit race at version {version + 1}: {path}"
    )


def update_iceberg(
    spark,
    path: str,
    condition,
    assignments: dict,
    *,
    range_filter: dict | None = None,
    strategy: str = "cow",
    max_mor_rows: int = 1_000_000,
) -> int | None:
    """Row-level UPDATE ... SET ``assignments`` WHERE ``condition``,
    planned by ``sources/row_dml.py``.

    ``strategy="cow"`` (default) — touched files rewrite with the
    assignments applied to exactly the matching rows, evaluated
    against the PRE-update row in one projection; untouched files
    carry forward with original sequence numbers.

    ``strategy="mor"`` — the ROW-DELTA shape (r16, the spec's
    "overwrite" snapshot): the matched rows' old positions land in
    per-partition position-delete files and their UPDATED images
    stage as new data files, committed atomically through ONE
    ``write_iceberg(position_deletes=…)`` append — bytes written ∝
    the MATCHED ROWS, not the touched files. The probe applies
    existing position deletes (an updated image of a dead row would
    resurrect it); live equality deletes raise toward ``cow``, as do
    evolved-spec leftovers (one delete manifest carries one spec).
    ``max_mor_rows`` gates mass updates toward ``cow``; assigning
    NULL into a required column raises before anything commits.

    Assigned columns must exist, partition columns are immutable here
    (an update that moves rows between partitions belongs on
    ``merge_iceberg``), and expressions cast back to the column's
    exact table type. Returns the committed snapshot id, or None when
    nothing matched."""
    from embeddinghub_spark.sources import row_dml
    from embeddinghub_spark.sources.iceberg_meta import iceberg_snapshot

    row_dml.check_strategy(strategy)
    table = _dml_table(spark, path, iceberg_snapshot(path))
    return row_dml.update(
        table, condition, assignments, range_filter, strategy,
        max_mor_rows,
    )


def compact_iceberg(
    spark,
    path: str,
    *,
    target_file_bytes: int = 128 << 20,
    min_files: int = 2,
    sort_by: list[str] | None = None,
) -> int | None:
    """rewriteDataFiles — bin-pack small data files into
    ~``target_file_bytes`` files in ONE snapshot (the connector's
    ``rewriteDataFiles``): every live file smaller than the target is
    rewritten; larger files carry forward as EXISTING manifest entries
    with their ORIGINAL sequence numbers (``write_iceberg
    (carry_files=…)``), so bytes written ∝ the small-file backlog.

    ``sort_by`` range-clusters the rewritten rows so their manifest
    column bounds come out tight and mostly disjoint — what
    ``read_iceberg(range_filter=…)`` manifest pruning keys on
    (pre-compute ``functions.zorder_key`` for multi-column locality).

    Tables with live MoR deletes or files from an EVOLVED partition
    spec take a FULL rewrite through the MoR-applying reader instead
    — that is the real ``rewriteDataFiles``'s delete-compaction job:
    the new snapshot carries no delete manifests because the deletes
    are materialized into the rewritten files.

    Returns the committed snapshot id, or None when there is nothing
    to do. Concurrency: pins ``expected_snapshot_id``; a concurrent
    commit raises ``IcebergWriteError`` (re-invoke)."""
    from embeddinghub_spark.sources.iceberg_meta import (
        _scan_parquet,
        iceberg_snapshot,
        read_iceberg,
    )

    snap = iceberg_snapshot(path)
    ctx = _iceberg_table_context(path, snap)
    full = ctx["full_rewrite"]
    sizes = snap.get("file_sizes") or {}
    packed = _bin_pack(
        snap["files"], lambda f: int(sizes.get(f) or 0), target_file_bytes,
        min_files, sort_by,
        # the full rewrite reads through the MoR-applying reader:
        # deletes materialize into the new files, evolved-spec files
        # re-express under the current spec
        lambda files: (
            read_iceberg(spark, path, snapshot_id=snap["snapshot_id"])
            if full else _scan_parquet(spark, snap, files)
        ),
        must=lambda f: full,
    )
    if packed is None:
        return None
    small, rows = packed
    return write_iceberg(
        rows,
        path,
        mode="overwrite",
        partition_by=ctx["partition_by"],
        expected_snapshot_id=snap["snapshot_id"],
        carry_files=None if full else _iceberg_carry(snap, set(small)),
        operation="replace",
    )
