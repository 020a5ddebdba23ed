"""Iceberg manifests and manifest lists: data model + Avro read/write.

Parity targets:
- DataFile model: /root/reference/icelake/src/types/in_memory.rs:1722-1848
- ManifestEntry/File: in_memory.rs:1378-1573 (v2 schema :1458-1495)
- ManifestListEntry + FieldSummary: in_memory.rs:1168-1372
- Avro serialization: /root/reference/icelake/src/types/to_avro.rs,
  on_disk/manifest_file.rs, on_disk/manifest_list.rs
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from .. import avro_io
from ..fileio import resolve_io
from .datatypes import (PrimitiveType, Schema, decode_bound, encode_bound,
                        type_to_json)
from .metadata import PartitionField, PartitionSpec

# manifest entry status
STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2

# data file content
CONTENT_DATA = 0
CONTENT_POSITION_DELETES = 1
CONTENT_EQUALITY_DELETES = 2

# manifest content (manifest-list entry)
MANIFEST_CONTENT_DATA = 0
MANIFEST_CONTENT_DELETES = 1

# reserved field ids for position-delete files (Iceberg spec)
POS_DELETE_FILE_PATH_ID = 2147483546
POS_DELETE_POS_ID = 2147483545
POS_DELETE_ROW_ID = 2147483544


@dataclass
class DataFile:
    file_path: str
    file_format: str = "PARQUET"
    partition: dict[str, Any] = field(default_factory=dict)  # partition field name -> value
    record_count: int = 0
    file_size_in_bytes: int = 0
    content: int = CONTENT_DATA
    column_sizes: dict[int, int] | None = None
    value_counts: dict[int, int] | None = None
    null_value_counts: dict[int, int] | None = None
    nan_value_counts: dict[int, int] | None = None
    lower_bounds: dict[int, bytes] | None = None
    upper_bounds: dict[int, bytes] | None = None
    key_metadata: bytes | None = None
    split_offsets: list[int] | None = None
    equality_ids: list[int] | None = None
    sort_order_id: int | None = None

    def decoded_bounds(self, schema: Schema, which: str = "lower",
                       fids=None) -> dict[int, Any]:
        """Decoded bounds; `fids` restricts decoding to the given field
        ids (zone-map pruning touches a handful of predicate columns —
        decoding a whole wide schema per candidate file is the planning
        hot path's dominant wasted work)."""
        raw = self.lower_bounds if which == "lower" else self.upper_bounds
        out: dict[int, Any] = {}
        for fid, b in (raw or {}).items():
            if fids is not None and fid not in fids:
                continue
            f = schema.field_by_id(fid)
            if f is not None and isinstance(f.field_type, PrimitiveType):
                try:
                    out[fid] = decode_bound(f.field_type, b)
                except Exception:
                    # a pre-type-widening file's 4-byte int/float bound
                    # cannot decode as the CURRENT long/double type —
                    # bound unknown, file kept (review r12: this
                    # crashed every filtered scan after a supported
                    # update_column_type; pruning must never turn a
                    # stats problem into a query failure)
                    continue
        return out


@dataclass
class ManifestEntry:
    status: int
    data_file: DataFile
    snapshot_id: int | None = None
    sequence_number: int | None = None
    file_sequence_number: int | None = None

    @property
    def is_alive(self) -> bool:
        return self.status in (STATUS_ADDED, STATUS_EXISTING)


@dataclass
class ManifestListEntry:
    manifest_path: str
    manifest_length: int
    partition_spec_id: int = 0
    content: int = MANIFEST_CONTENT_DATA
    sequence_number: int = 0
    min_sequence_number: int = 0
    added_snapshot_id: int = 0
    added_files_count: int = 0
    existing_files_count: int = 0
    deleted_files_count: int = 0
    added_rows_count: int = 0
    existing_rows_count: int = 0
    deleted_rows_count: int = 0
    partitions: list[dict] | None = None  # FieldSummary dicts


# -------------------------------------------------------------- avro schemas


def _opt(t: Any) -> list:
    return ["null", t]


def _kv_long_map(name: str, kid: int, vid: int, value_type: str = "long") -> dict:
    return {
        "type": "array",
        "items": {
            "type": "record", "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": kid},
                {"name": "value", "type": value_type, "field-id": vid},
            ],
        },
        "logicalType": "map",
    }


def partition_avro_type(spec: PartitionSpec, schema: Schema) -> dict:
    """Avro record type for a partition tuple, from the spec + table schema."""
    from .transforms import transform_result_type  # late import (cycle)

    fields = []
    for pf in spec.fields:
        src = schema.field_by_id(pf.source_column_id)
        rt = transform_result_type(pf.transform, src.field_type if src else None)
        if rt is None:
            # source column dropped after the spec was written (old-spec
            # manifests being rewritten): values are nulls — encode as an
            # optional string rather than crashing the maintenance commit
            from .datatypes import STRING

            rt = STRING
        fields.append({
            "name": pf.name,
            "type": _opt(_iceberg_prim_to_avro(
                rt, name_suffix=f"_{pf.partition_field_id}")),
            "field-id": pf.partition_field_id,
            "default": None,
        })
    return {"type": "record", "name": "r102", "fields": fields}


def _iceberg_prim_to_avro(t: PrimitiveType, name_suffix: str = "") -> Any:
    """`name_suffix` uniquifies Avro NAMED types (fixed/uuid) per
    partition field: two same-length fixed fields (or two uuid fields
    sharing the singleton UUID type instance) would otherwise fully
    define the same Avro name twice in one record, which strict
    parsers (Java Avro Schema.Parser) reject with "Can't redefine"
    even though the in-repo reader tolerates it (review r11)."""
    n = t.name
    if n == "boolean":
        return "boolean"
    if n == "int":
        return "int"
    if n == "long":
        return "long"
    if n == "float":
        return "float"
    if n == "double":
        return "double"
    if n == "date":
        return {"type": "int", "logicalType": "date"}
    if n == "time":
        return {"type": "long", "logicalType": "time-micros"}
    if n == "timestamp":
        return {"type": "long", "logicalType": "timestamp-micros", "adjust-to-utc": False}
    if n == "timestamptz":
        return {"type": "long", "logicalType": "timestamp-micros", "adjust-to-utc": True}
    if n == "string":
        return "string"
    if n == "uuid":
        return {"type": "fixed", "name": f"uuid{name_suffix or '_0'}",
                "size": 16, "logicalType": "uuid"}
    if n == "binary":
        return "bytes"
    if n == "fixed":
        return {"type": "fixed", "name": f"fixed_{t.length}{name_suffix}",
                "size": t.length}
    if n == "decimal":
        size = (t.precision // 2) + 1  # generous; avro decimal as bytes
        return {"type": "bytes", "logicalType": "decimal",
                "precision": t.precision, "scale": t.scale, "_size_hint": size}
    raise ValueError(f"no avro mapping for {t}")


def datafile_avro_schema(partition_type: dict, format_version: int = 2) -> dict:
    fields = []
    if format_version >= 2:
        fields.append({"name": "content", "type": "int", "field-id": 134})
    fields += [
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": partition_type, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
    ]
    if format_version == 1:
        fields.append({"name": "block_size_in_bytes", "type": "long", "field-id": 105})
    fields += [
        {"name": "column_sizes", "type": _opt(_kv_long_map("k117_v118", 117, 118)),
         "field-id": 108, "default": None},
        {"name": "value_counts", "type": _opt(_kv_long_map("k119_v120", 119, 120)),
         "field-id": 109, "default": None},
        {"name": "null_value_counts", "type": _opt(_kv_long_map("k121_v122", 121, 122)),
         "field-id": 110, "default": None},
        {"name": "nan_value_counts", "type": _opt(_kv_long_map("k138_v139", 138, 139)),
         "field-id": 137, "default": None},
        {"name": "lower_bounds", "type": _opt(_kv_long_map("k126_v127", 126, 127, "bytes")),
         "field-id": 125, "default": None},
        {"name": "upper_bounds", "type": _opt(_kv_long_map("k129_v130", 129, 130, "bytes")),
         "field-id": 128, "default": None},
        {"name": "key_metadata", "type": _opt("bytes"), "field-id": 131, "default": None},
        {"name": "split_offsets", "type": _opt({"type": "array", "items": "long",
                                                "element-id": 133}),
         "field-id": 132, "default": None},
    ]
    if format_version >= 2:
        fields.append({"name": "equality_ids",
                       "type": _opt({"type": "array", "items": "int", "element-id": 136}),
                       "field-id": 135, "default": None})
    fields.append({"name": "sort_order_id", "type": _opt("int"), "field-id": 140,
                   "default": None})
    return {"type": "record", "name": "r2", "fields": fields}


def manifest_entry_avro_schema(partition_type: dict, format_version: int = 2) -> dict:
    fields = [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": _opt("long"), "field-id": 1, "default": None},
    ]
    if format_version >= 2:
        fields += [
            {"name": "sequence_number", "type": _opt("long"), "field-id": 3, "default": None},
            {"name": "file_sequence_number", "type": _opt("long"), "field-id": 4,
             "default": None},
        ]
    fields.append({"name": "data_file",
                   "type": datafile_avro_schema(partition_type, format_version),
                   "field-id": 2})
    return {"type": "record", "name": "manifest_entry", "fields": fields}


_FIELD_SUMMARY = {
    "type": "record", "name": "r508",
    "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "contains_nan", "type": _opt("boolean"), "field-id": 518, "default": None},
        {"name": "lower_bound", "type": _opt("bytes"), "field-id": 510, "default": None},
        {"name": "upper_bound", "type": _opt("bytes"), "field-id": 511, "default": None},
    ],
}


def manifest_list_avro_schema(format_version: int = 2) -> dict:
    # field names per /root/reference/icelake/src/types/in_memory.rs:1278-1312
    fields = [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
    ]
    if format_version >= 2:
        fields += [
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long", "field-id": 516},
        ]
    fields += [
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_data_files_count", "type": "int", "field-id": 504},
        {"name": "existing_data_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "partitions",
         "type": _opt({"type": "array", "items": _FIELD_SUMMARY, "element-id": 508}),
         "field-id": 507, "default": None},
    ]
    return {"type": "record", "name": "manifest_file", "fields": fields}


# ---------------------------------------------- partition value conversion


def _pv_to_avro(v: Any, t: PrimitiveType) -> Any:
    """python-native partition value → avro-encodable primitive."""
    import datetime as dt
    from decimal import Decimal

    if v is None:
        return None
    n = t.name
    if n == "date":
        return (v - dt.date(1970, 1, 1)).days if isinstance(v, dt.date) else int(v)
    if n in ("timestamp", "timestamptz"):
        if isinstance(v, dt.datetime):
            # aware values anchor at the UTC epoch: anchoring at the
            # value's OWN tzinfo shifts the stored micros by the UTC
            # offset (the same bug apply_transform_py fixed), making the
            # partition tuple disagree with its own FieldSummary bounds.
            # Exact INTEGER micros via timedelta floor-division — the
            # encode_bound idiom; total_seconds()*1e6 drifts +-1us
            # beyond ~year 2100 (review r13, the r11 avro_data fix
            # applied to this last float site)
            epoch = (dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
                     if v.tzinfo else dt.datetime(1970, 1, 1))
            return (v - epoch) // dt.timedelta(microseconds=1)
        return int(v)
    if n == "decimal":
        unscaled = int(Decimal(v).scaleb(t.scale).to_integral_value())
        size = (t.precision // 2) + 1
        return unscaled.to_bytes(size, "big", signed=True)
    if n == "time":
        if isinstance(v, dt.time):
            return (v.hour * 3600 + v.minute * 60 + v.second) * 1_000_000 + v.microsecond
        return int(v)
    if n == "uuid":
        import uuid as _u

        return _u.UUID(str(v)).bytes if not isinstance(v, bytes) else v
    if n == "string" and not isinstance(v, str):
        # dropped-source degrade path (see _partition_result_types):
        # the declared Avro type is optional string, so a surviving
        # int/date value must ride as its string form, not crash the
        # encoder with a type mismatch
        return str(v)
    return v


def _pv_from_avro(v: Any, t: PrimitiveType) -> Any:
    import datetime as dt
    from decimal import Decimal

    if v is None:
        return None
    n = t.name
    if n == "date":
        return dt.date(1970, 1, 1) + dt.timedelta(days=v)
    if n == "timestamp":
        return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=v)
    if n == "timestamptz":
        return dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(microseconds=v)
    if n == "decimal":
        return Decimal(int.from_bytes(v, "big", signed=True)).scaleb(-t.scale)
    if n == "uuid":
        import uuid as _u

        return str(_u.UUID(bytes=bytes(v)))
    if n in ("float",):
        return float(v)
    return v


def _partition_result_types(spec: PartitionSpec, schema: Schema) -> dict[str, PrimitiveType]:
    from .datatypes import STRING
    from .transforms import transform_result_type

    out = {}
    for pf in spec.fields:
        src = schema.field_by_id(pf.source_column_id)
        rt = transform_result_type(pf.transform, src.field_type if src else None)
        if rt is None:
            # source column dropped after the spec was written: the
            # Avro type degrades to optional string (partition_avro_type)
            # and the VALUE conversion must degrade with it — a None
            # here crashed _pv_to_avro/_pv_from_avro on `t.name` the
            # moment an old-spec manifest with real partition values
            # was rewritten (review r11; the earlier guard fixed only
            # the schema side "rather than crashing the maintenance
            # commit", not the values in it)
            rt = STRING
        out[pf.name] = rt
    return out


# ------------------------------------------------------------------- read


def _map_from_avro(v: Any) -> dict[int, Any] | None:
    if v is None:
        return None
    if isinstance(v, dict):  # true avro map
        return {int(k): val for k, val in v.items()}
    return {e["key"]: e["value"] for e in v}  # array-of-kv logical map


def read_manifest_list(path: str) -> list[ManifestListEntry]:
    _, records = avro_io.read_avro(path)
    out = []
    for r in records:
        out.append(ManifestListEntry(
            manifest_path=r["manifest_path"],
            manifest_length=r["manifest_length"],
            partition_spec_id=r.get("partition_spec_id", 0),
            content=r.get("content", MANIFEST_CONTENT_DATA) or 0,
            sequence_number=r.get("sequence_number", 0) or 0,
            min_sequence_number=r.get("min_sequence_number", 0) or 0,
            added_snapshot_id=r.get("added_snapshot_id", 0) or 0,
            added_files_count=r.get("added_data_files_count", r.get("added_files_count", 0)) or 0,
            existing_files_count=r.get("existing_data_files_count",
                                       r.get("existing_files_count", 0)) or 0,
            deleted_files_count=r.get("deleted_data_files_count",
                                      r.get("deleted_files_count", 0)) or 0,
            added_rows_count=r.get("added_rows_count", 0) or 0,
            existing_rows_count=r.get("existing_rows_count", 0) or 0,
            deleted_rows_count=r.get("deleted_rows_count", 0) or 0,
            partitions=r.get("partitions"),
        ))
    return out


def read_manifest(path: str, owner: ManifestListEntry | None = None
                  ) -> tuple[dict, list[ManifestEntry]]:
    """Read a manifest Avro file → (file metadata, entries).

    With `owner`, the manifest-list entry that references this manifest,
    the spec's inheritance rules are applied to every entry whatever its
    status: a null `sequence_number` or `file_sequence_number` takes the
    owner's `sequence_number`, and a null `snapshot_id` takes the
    owner's `added_snapshot_id` (Iceberg spec, "Sequence Number
    Inheritance" and "Snapshot ID Inheritance"). Without it, the
    entries carry the values exactly as written.
    """
    # single read: header metadata (iceberg keys) + records in one pass
    meta, _, records = avro_io.read_avro_full(path)
    # partition result types from the header's spec + schema JSON, so
    # avro-primitive partition values decode back to python-native ones
    ptypes: dict[str, PrimitiveType] = {}
    try:
        if "partition-spec" in meta and "schema" in meta:
            spec_fields = json.loads(meta["partition-spec"])
            hdr_schema = Schema.from_json_dict(json.loads(meta["schema"]))
            spec = PartitionSpec(0, tuple(
                PartitionField.from_json(f, ordinal=i)
                for i, f in enumerate(spec_fields)))
            ptypes = _partition_result_types(spec, hdr_schema)
    except Exception:
        ptypes = {}
    entries = []
    for rec in records:
        dfj = rec["data_file"]
        raw_part = dfj.get("partition") or {}
        part = {k: (_pv_from_avro(v, ptypes[k]) if k in ptypes else v)
                for k, v in raw_part.items()}
        df = DataFile(
            file_path=dfj["file_path"],
            file_format=dfj.get("file_format", "PARQUET"),
            partition=part,
            record_count=dfj.get("record_count", 0),
            file_size_in_bytes=dfj.get("file_size_in_bytes", 0),
            content=dfj.get("content", CONTENT_DATA) or 0,
            column_sizes=_map_from_avro(dfj.get("column_sizes")),
            value_counts=_map_from_avro(dfj.get("value_counts")),
            null_value_counts=_map_from_avro(dfj.get("null_value_counts")),
            nan_value_counts=_map_from_avro(dfj.get("nan_value_counts")),
            lower_bounds=_map_from_avro(dfj.get("lower_bounds")),
            upper_bounds=_map_from_avro(dfj.get("upper_bounds")),
            key_metadata=dfj.get("key_metadata"),
            split_offsets=dfj.get("split_offsets"),
            equality_ids=dfj.get("equality_ids"),
            sort_order_id=dfj.get("sort_order_id"),
        )
        e = ManifestEntry(
            status=rec["status"],
            data_file=df,
            snapshot_id=rec.get("snapshot_id"),
            sequence_number=rec.get("sequence_number"),
            file_sequence_number=rec.get("file_sequence_number"),
        )
        if owner is not None:
            if e.snapshot_id is None:
                e.snapshot_id = owner.added_snapshot_id
            if e.sequence_number is None:
                e.sequence_number = owner.sequence_number
            if e.file_sequence_number is None:
                e.file_sequence_number = owner.sequence_number
        entries.append(e)
    return meta, entries


# ------------------------------------------------------------------ write


def _map_to_avro(m: dict[int, Any] | None) -> list[dict] | None:
    if m is None:
        return None
    return [{"key": int(k), "value": v} for k, v in sorted(m.items())]


def write_manifest(
    path: str,
    entries: list[ManifestEntry],
    spec: PartitionSpec,
    schema: Schema,
    snapshot_id: int,
    format_version: int = 2,
    content: int = MANIFEST_CONTENT_DATA,
    sequence_number: int | None = None,
) -> ManifestListEntry:
    """Write manifest Avro; return its manifest-list entry (counts filled).

    Pass the commit's `sequence_number` to have the returned entry carry
    both `sequence_number` and `min_sequence_number` (entries with a
    None sequence inherit the commit's) — callers must NOT re-derive
    min_sequence_number themselves: a forgotten caller patch would
    leave the default 0 and break MoR delete sequencing.

    Mirrors ManifestWriter::write (/root/reference/icelake/src/types/
    on_disk/manifest_file.rs) including the iceberg header metadata keys.
    """
    ptype = partition_avro_type(spec, schema)
    ptypes = _partition_result_types(spec, schema)
    avro_schema = manifest_entry_avro_schema(ptype, format_version)
    records = []
    counts = {STATUS_ADDED: [0, 0], STATUS_EXISTING: [0, 0], STATUS_DELETED: [0, 0]}
    min_seq = None
    for e in entries:
        df = e.data_file
        avro_part = {k: (_pv_to_avro(v, ptypes[k]) if k in ptypes else v)
                     for k, v in (df.partition or {}).items()}
        rec: dict[str, Any] = {
            "status": e.status,
            "snapshot_id": e.snapshot_id,
            "data_file": {
                "content": df.content,
                "file_path": df.file_path,
                "file_format": df.file_format,
                "partition": avro_part,
                "record_count": df.record_count,
                "file_size_in_bytes": df.file_size_in_bytes,
                "block_size_in_bytes": 67108864,
                "column_sizes": _map_to_avro(df.column_sizes),
                "value_counts": _map_to_avro(df.value_counts),
                "null_value_counts": _map_to_avro(df.null_value_counts),
                "nan_value_counts": _map_to_avro(df.nan_value_counts),
                "lower_bounds": _map_to_avro(df.lower_bounds),
                "upper_bounds": _map_to_avro(df.upper_bounds),
                "key_metadata": df.key_metadata,
                "split_offsets": df.split_offsets,
                "equality_ids": df.equality_ids,
                "sort_order_id": df.sort_order_id,
            },
        }
        if format_version >= 2:
            rec["sequence_number"] = e.sequence_number
            rec["file_sequence_number"] = e.file_sequence_number
        records.append(rec)
        counts[e.status][0] += 1
        counts[e.status][1] += df.record_count
        if e.sequence_number is not None:
            min_seq = e.sequence_number if min_seq is None else min(min_seq, e.sequence_number)
    summaries = _field_summaries(entries, spec, ptypes)
    meta = {
        "schema": json.dumps(schema.to_json_dict()),
        "schema-id": str(schema.schema_id),
        "partition-spec": json.dumps([f.to_json() for f in spec.fields]),
        "partition-spec-id": str(spec.spec_id),
        "format-version": str(format_version),
    }
    if format_version >= 2:
        meta["content"] = "data" if content == MANIFEST_CONTENT_DATA else "deletes"
    avro_io.write_avro(path, avro_schema, records, metadata=meta)
    if sequence_number is not None and (
            min_seq is None or any(e.sequence_number is None for e in entries)):
        # None-seq entries inherit the commit's sequence number
        min_seq = sequence_number if min_seq is None else min(min_seq,
                                                              sequence_number)
    return ManifestListEntry(
        manifest_path=path,
        manifest_length=resolve_io(path).size(path),
        partition_spec_id=spec.spec_id,
        content=content,
        sequence_number=sequence_number if sequence_number is not None else 0,
        min_sequence_number=(min_seq if min_seq is not None else
                             (sequence_number or 0)),
        added_snapshot_id=snapshot_id,
        added_files_count=counts[STATUS_ADDED][0],
        existing_files_count=counts[STATUS_EXISTING][0],
        deleted_files_count=counts[STATUS_DELETED][0],
        added_rows_count=counts[STATUS_ADDED][1],
        existing_rows_count=counts[STATUS_EXISTING][1],
        deleted_rows_count=counts[STATUS_DELETED][1],
        partitions=summaries,
    )


def _field_summaries(entries: list[ManifestEntry], spec: PartitionSpec,
                     ptypes: dict[str, PrimitiveType]) -> list[dict] | None:
    """Per-partition-field summaries (spec field 507, r508) over the
    manifest's LIVE entries: contains_null / contains_nan and encoded
    lower/upper bounds. These let a scan skip whole manifests from the
    manifest list alone — at 100 TB that is the difference between
    opening 10k manifest files and opening the handful that can match.
    """
    if not spec.fields:
        return None
    live = [e for e in entries if e.is_alive]
    if not live:
        return None
    out: list[dict] = []
    for pf in spec.fields:
        t = ptypes.get(pf.name)
        vals = [e.data_file.partition.get(pf.name) for e in live]
        non_null = [v for v in vals if v is not None]
        is_float = t is not None and getattr(t, "name", "") in ("float", "double")
        summary: dict[str, Any] = {
            "contains_null": len(non_null) < len(vals),
            "contains_nan": any(v != v for v in non_null) if is_float else None,
        }
        if is_float:
            non_null = [v for v in non_null if v == v]
        if non_null and t is not None:
            try:
                summary["lower_bound"] = encode_bound(t, min(non_null))
                summary["upper_bound"] = encode_bound(t, max(non_null))
            except Exception:
                summary["lower_bound"] = summary["upper_bound"] = None
        else:
            summary["lower_bound"] = summary["upper_bound"] = None
        out.append(summary)
    return out


def write_manifest_list(
    path: str,
    entries: list[ManifestListEntry],
    snapshot_id: int,
    parent_snapshot_id: int | None,
    sequence_number: int,
    format_version: int = 2,
) -> None:
    schema = manifest_list_avro_schema(format_version)
    records = []
    for e in entries:
        rec: dict[str, Any] = {
            "manifest_path": e.manifest_path,
            "manifest_length": e.manifest_length,
            "partition_spec_id": e.partition_spec_id,
            "added_snapshot_id": e.added_snapshot_id,
            "added_data_files_count": e.added_files_count,
            "existing_data_files_count": e.existing_files_count,
            "deleted_data_files_count": e.deleted_files_count,
            "added_rows_count": e.added_rows_count,
            "existing_rows_count": e.existing_rows_count,
            "deleted_rows_count": e.deleted_rows_count,
            "partitions": e.partitions,
        }
        if format_version >= 2:
            rec["content"] = e.content
            rec["sequence_number"] = e.sequence_number
            rec["min_sequence_number"] = e.min_sequence_number
        records.append(rec)
    meta = {
        "snapshot-id": str(snapshot_id),
        "parent-snapshot-id": str(parent_snapshot_id) if parent_snapshot_id else "null",
        "format-version": str(format_version),
    }
    if format_version >= 2:
        meta["sequence-number"] = str(sequence_number)
    avro_io.write_avro(path, schema, records, metadata=meta)
