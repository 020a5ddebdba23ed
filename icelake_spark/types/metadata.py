"""Iceberg table metadata: TableMetadata, Snapshot, PartitionSpec,
SortOrder, snapshot references — JSON serde for format v1 and v2.

Parity targets:
- in-memory model: /root/reference/icelake/src/types/in_memory.rs:2095-2650
- JSON serde: /root/reference/icelake/src/types/on_disk/table_metadata.rs
- format-version rules: in_memory.rs:2663-2694
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field, replace
from typing import Any

from .datatypes import Schema

MAIN_BRANCH = "main"
INITIAL_SEQUENCE_NUMBER = 0
# Iceberg reserves partition field ids starting above this
PARTITION_DATA_ID_START = 1000


@dataclass(frozen=True)
class PartitionField:
    source_column_id: int
    partition_field_id: int
    transform: str  # "identity" | "bucket[16]" | "truncate[4]" | "year" | ...
    name: str

    def to_json(self) -> dict:
        return {"source-id": self.source_column_id, "field-id": self.partition_field_id,
                "transform": self.transform, "name": self.name}

    @classmethod
    def from_json(cls, j: dict, ordinal: int = 0) -> "PartitionField":
        # legacy v1 metadata omits partition field ids; the spec assigns
        # 1000 + ordinal (a flat 0 default would collide every field and
        # poison last_partition_id and manifest partition field-ids)
        return cls(j["source-id"], j.get("field-id", 1000 + ordinal),
                   j["transform"], j["name"])


@dataclass(frozen=True)
class PartitionSpec:
    spec_id: int = 0
    fields: tuple[PartitionField, ...] = ()

    @property
    def is_unpartitioned(self) -> bool:
        return not self.fields

    def to_json(self) -> dict:
        return {"spec-id": self.spec_id, "fields": [f.to_json() for f in self.fields]}

    @classmethod
    def from_json(cls, j: dict) -> "PartitionSpec":
        return cls(j.get("spec-id", 0),
                   tuple(PartitionField.from_json(f, ordinal=i)
                         for i, f in enumerate(j["fields"])))


def build_partition_fields(schema, parts, start_fid: int):
    """`("col", "bucket[8](col)", "year(col)", ...)` → (PartitionField
    tuple, last allocated partition-field id). Partition field ids are
    allocated start_fid+1.. — callers pass metadata.last_partition_id
    so spec evolution (IcebergTable.update_spec) and REPLACE TABLE
    (Transaction.set_default_spec) agree on id allocation and naming.
    """
    import re as _re

    fields = []
    next_fid = start_fid
    for part in parts:
        m = _re.match(r"^(\w+(?:\[\d+\])?)\((\w+)\)$", part.strip())
        transform, col = (m.group(1), m.group(2)) if m else ("identity",
                                                             part.strip())
        src = schema.field_by_name(col)
        if src is None:
            raise KeyError(f"partition source column {col!r} not found")
        base = transform.split("[")[0]
        next_fid += 1
        fields.append(PartitionField(
            source_column_id=src.field_id,
            partition_field_id=next_fid,
            transform=transform,
            name=col if base == "identity" else f"{col}_{base}"))
    return tuple(fields), next_fid


@dataclass(frozen=True)
class SortField:
    source_column_id: int
    transform: str
    direction: str  # "asc" | "desc"
    null_order: str  # "nulls-first" | "nulls-last"

    def to_json(self) -> dict:
        return {"source-id": self.source_column_id, "transform": self.transform,
                "direction": self.direction, "null-order": self.null_order}

    @classmethod
    def from_json(cls, j: dict) -> "SortField":
        return cls(j["source-id"], j["transform"], j["direction"], j["null-order"])


@dataclass(frozen=True)
class SortOrder:
    order_id: int = 0
    fields: tuple[SortField, ...] = ()

    def to_json(self) -> dict:
        return {"order-id": self.order_id, "fields": [f.to_json() for f in self.fields]}

    @classmethod
    def from_json(cls, j: dict) -> "SortOrder":
        return cls(j.get("order-id", 0), tuple(SortField.from_json(f) for f in j["fields"]))


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: int
    timestamp_ms: int
    manifest_list: str
    summary: dict[str, str] = field(default_factory=dict)
    parent_snapshot_id: int | None = None
    sequence_number: int = 0
    schema_id: int | None = None

    def to_json(self) -> dict:
        j: dict[str, Any] = {
            "snapshot-id": self.snapshot_id,
            "timestamp-ms": self.timestamp_ms,
            "summary": self.summary,
            "manifest-list": self.manifest_list,
            "sequence-number": self.sequence_number,
        }
        if self.parent_snapshot_id is not None:
            j["parent-snapshot-id"] = self.parent_snapshot_id
        if self.schema_id is not None:
            j["schema-id"] = self.schema_id
        return j

    @classmethod
    def from_json(cls, j: dict) -> "Snapshot":
        return cls(
            snapshot_id=j["snapshot-id"], timestamp_ms=j["timestamp-ms"],
            manifest_list=j["manifest-list"], summary=j.get("summary", {}),
            parent_snapshot_id=j.get("parent-snapshot-id"),
            sequence_number=j.get("sequence-number", 0), schema_id=j.get("schema-id"),
        )


@dataclass(frozen=True)
class SnapshotReference:
    snapshot_id: int
    type: str = "branch"  # "branch" | "tag"
    min_snapshots_to_keep: int | None = None
    max_snapshot_age_ms: int | None = None
    max_ref_age_ms: int | None = None

    def to_json(self) -> dict:
        j: dict[str, Any] = {"snapshot-id": self.snapshot_id, "type": self.type}
        if self.min_snapshots_to_keep is not None:
            j["min-snapshots-to-keep"] = self.min_snapshots_to_keep
        if self.max_snapshot_age_ms is not None:
            j["max-snapshot-age-ms"] = self.max_snapshot_age_ms
        if self.max_ref_age_ms is not None:
            j["max-ref-age-ms"] = self.max_ref_age_ms
        return j

    @classmethod
    def from_json(cls, j: dict) -> "SnapshotReference":
        return cls(j["snapshot-id"], j.get("type", "branch"),
                   j.get("min-snapshots-to-keep"), j.get("max-snapshot-age-ms"),
                   j.get("max-ref-age-ms"))


@dataclass(frozen=True)
class TableMetadata:
    format_version: int
    table_uuid: str
    location: str
    last_updated_ms: int
    last_column_id: int
    schemas: tuple[Schema, ...]
    current_schema_id: int
    partition_specs: tuple[PartitionSpec, ...]
    default_spec_id: int
    last_partition_id: int
    sort_orders: tuple[SortOrder, ...] = (SortOrder(),)
    default_sort_order_id: int = 0
    properties: dict[str, str] = field(default_factory=dict)
    current_snapshot_id: int | None = None
    snapshots: tuple[Snapshot, ...] = ()
    snapshot_log: tuple[dict, ...] = ()
    metadata_log: tuple[dict, ...] = ()
    refs: dict[str, SnapshotReference] = field(default_factory=dict)
    last_sequence_number: int = INITIAL_SEQUENCE_NUMBER

    # ----------------------------------------------------------- lookups

    def current_schema(self) -> Schema:
        return self.schema_by_id(self.current_schema_id)

    def schema_by_id(self, schema_id: int) -> Schema:
        for s in self.schemas:
            if s.schema_id == schema_id:
                return s
        raise KeyError(f"schema id {schema_id} not found")

    def default_spec(self) -> PartitionSpec:
        return self.spec_by_id(self.default_spec_id)

    def spec_by_id(self, spec_id: int) -> PartitionSpec:
        for s in self.partition_specs:
            if s.spec_id == spec_id:
                return s
        raise KeyError(f"partition spec id {spec_id} not found")

    def current_snapshot(self) -> Snapshot | None:
        if self.current_snapshot_id is None or self.current_snapshot_id == -1:
            return None
        return self.snapshot_by_id(self.current_snapshot_id)

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        raise KeyError(f"snapshot id {snapshot_id} not found")

    def snapshot_by_ref(self, ref_name: str) -> Snapshot | None:
        ref = self.refs.get(ref_name)
        return self.snapshot_by_id(ref.snapshot_id) if ref else None

    def ancestors(self, head_id: int | None = None) -> list[Snapshot]:
        """The parent chain of `head_id` (default: the current main
        head), newest first, down to the oldest snapshot still in
        `snapshots` (older ones may have expired)."""
        if head_id is None:
            head_id = self.current_snapshot_id
        by_id = {s.snapshot_id: s for s in self.snapshots}
        chain = []
        # pop: each snapshot at most once, even in a malformed cycle
        while (s := by_id.pop(head_id, None)) is not None:
            chain.append(s)
            head_id = s.parent_snapshot_id
        return chain

    def ancestry_ids(self, head_id: int | None = None) -> set:
        """Snapshot ids on the parent chain of `head_id` (default: the
        current main head). Snapshots staged on other branches
        (write-audit-publish) live in `snapshots` but are NOT ancestors —
        incremental/streaming readers must filter to this set or leak
        unpublished commits."""
        return {s.snapshot_id for s in self.ancestors(head_id)}

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot | None:
        """Latest MAIN-ANCESTRY snapshot with commit time <= timestamp_ms
        (time travel). Restricted to the current head's lineage: WAP
        branch-staged and rolled-past snapshots live in `snapshots` but
        are unpublished — a timestamp read must never resolve to them."""
        main_ids = self.ancestry_ids()
        best = None
        for s in self.snapshots:
            if (s.snapshot_id in main_ids and s.timestamp_ms <= timestamp_ms
                    and (best is None or s.timestamp_ms > best.timestamp_ms)):
                best = s
        return best

    # ------------------------------------------------------------- serde

    def to_json_dict(self) -> dict:
        j: dict[str, Any] = {
            "format-version": self.format_version,
            "table-uuid": self.table_uuid,
            "location": self.location,
            "last-updated-ms": self.last_updated_ms,
            "last-column-id": self.last_column_id,
            "schemas": [s.to_json_dict() for s in self.schemas],
            "current-schema-id": self.current_schema_id,
            "partition-specs": [s.to_json() for s in self.partition_specs],
            "default-spec-id": self.default_spec_id,
            "last-partition-id": self.last_partition_id,
            "sort-orders": [s.to_json() for s in self.sort_orders],
            "default-sort-order-id": self.default_sort_order_id,
            "properties": self.properties,
            "snapshots": [s.to_json() for s in self.snapshots],
            "snapshot-log": list(self.snapshot_log),
            "metadata-log": list(self.metadata_log),
            "refs": {k: v.to_json() for k, v in self.refs.items()},
        }
        if self.format_version >= 2:
            j["last-sequence-number"] = self.last_sequence_number
        if self.current_snapshot_id is not None:
            j["current-snapshot-id"] = self.current_snapshot_id
        if self.format_version == 1:
            # v1 requires the legacy singular fields
            j["schema"] = self.current_schema().to_json_dict()
            spec = self.default_spec()
            j["partition-spec"] = [f.to_json() for f in spec.fields]
        return j

    def to_json(self) -> str:
        return json.dumps(self.to_json_dict(), separators=(",", ":"))

    @classmethod
    def from_json_dict(cls, j: dict) -> "TableMetadata":
        fv = j["format-version"]
        if "schemas" in j:
            schemas = tuple(Schema.from_json_dict(s) for s in j["schemas"])
            current_schema_id = j["current-schema-id"]
        else:  # v1 legacy: single "schema"
            schemas = (Schema.from_json_dict(j["schema"]),)
            current_schema_id = schemas[0].schema_id
        if "partition-specs" in j:
            specs = tuple(PartitionSpec.from_json(s) for s in j["partition-specs"])
            default_spec_id = j.get("default-spec-id", 0)
        else:  # v1 legacy: flat "partition-spec" field list
            specs = (PartitionSpec(0, tuple(
                PartitionField.from_json(f, ordinal=i)
                for i, f in enumerate(j.get("partition-spec", [])))),)
            default_spec_id = 0
        last_partition_id = j.get("last-partition-id")
        if last_partition_id is None:
            fids = [f.partition_field_id for s in specs for f in s.fields]
            last_partition_id = max(fids, default=PARTITION_DATA_ID_START - 1)
        sort_orders = tuple(SortOrder.from_json(s) for s in j.get("sort-orders", [])) or (SortOrder(),)
        return cls(
            format_version=fv,
            table_uuid=j.get("table-uuid", str(uuid.uuid4())),
            location=j["location"],
            last_updated_ms=j.get("last-updated-ms", 0),
            last_column_id=j.get("last-column-id", max(
                (f.field_id for s in schemas for f in s.fields), default=0)),
            schemas=schemas,
            current_schema_id=current_schema_id,
            partition_specs=specs,
            default_spec_id=default_spec_id,
            last_partition_id=last_partition_id,
            sort_orders=sort_orders,
            default_sort_order_id=j.get("default-sort-order-id", sort_orders[0].order_id),
            properties=j.get("properties", {}),
            current_snapshot_id=j.get("current-snapshot-id"),
            snapshots=tuple(Snapshot.from_json(s) for s in j.get("snapshots", [])),
            snapshot_log=tuple(j.get("snapshot-log", [])),
            metadata_log=tuple(j.get("metadata-log", [])),
            refs={k: SnapshotReference.from_json(v) for k, v in j.get("refs", {}).items()},
            last_sequence_number=j.get("last-sequence-number", INITIAL_SEQUENCE_NUMBER),
        )

    @classmethod
    def from_json(cls, s: str | bytes) -> "TableMetadata":
        return cls.from_json_dict(json.loads(s))

    # ------------------------------------------------------------ updates

    @classmethod
    def new(cls, location: str, schema: Schema, spec: PartitionSpec | None = None,
            properties: dict[str, str] | None = None, format_version: int = 2,
            sort_order: SortOrder | None = None) -> "TableMetadata":
        spec = spec or PartitionSpec()
        return cls(
            format_version=format_version,
            table_uuid=str(uuid.uuid4()),
            location=location,
            last_updated_ms=int(time.time() * 1000),
            last_column_id=schema.highest_field_id(),
            schemas=(schema,),
            current_schema_id=schema.schema_id,
            partition_specs=(spec,),
            default_spec_id=spec.spec_id,
            last_partition_id=max((f.partition_field_id for f in spec.fields),
                                  default=PARTITION_DATA_ID_START - 1),
            sort_orders=(sort_order or SortOrder(),),
            default_sort_order_id=(sort_order or SortOrder()).order_id,
            properties=properties or {},
        )

    def _moved_ref(self, ref_name: str, snapshot_id: int) -> SnapshotReference:
        """Move a branch ref, PRESERVING its retention knobs (a bare
        replacement reset min-snapshots-to-keep/age limits on every
        commit) and refusing to move a tag (tags are immutable — the
        same guard fast_forward applies; code-review r8)."""
        prev = self.refs.get(ref_name)
        if prev is not None:
            if prev.type == "tag":
                raise ValueError(
                    f"cannot commit to tag {ref_name!r} (tags are "
                    f"immutable; use a branch)")
            return replace(prev, snapshot_id=snapshot_id)
        return SnapshotReference(snapshot_id, "branch")

    def with_snapshot(self, snapshot: Snapshot, ref_name: str = MAIN_BRANCH) -> "TableMetadata":
        """Append a snapshot and point `ref_name` (and current) at it."""
        refs = dict(self.refs)
        refs[ref_name] = self._moved_ref(ref_name, snapshot.snapshot_id)
        return replace(
            self,
            snapshots=self.snapshots + (snapshot,),
            current_snapshot_id=snapshot.snapshot_id,
            last_updated_ms=snapshot.timestamp_ms,
            last_sequence_number=max(self.last_sequence_number, snapshot.sequence_number),
            snapshot_log=self.snapshot_log + (
                {"snapshot-id": snapshot.snapshot_id, "timestamp-ms": snapshot.timestamp_ms},),
            refs=refs,
        )

    def with_branch_snapshot(self, snapshot: Snapshot,
                             ref_name: str) -> "TableMetadata":
        """Append a snapshot and move ONLY `ref_name` — the current
        snapshot and the main branch stay where they are (staging commits
        for write-audit-publish)."""
        refs = dict(self.refs)
        refs[ref_name] = self._moved_ref(ref_name, snapshot.snapshot_id)
        return replace(
            self,
            snapshots=self.snapshots + (snapshot,),
            last_updated_ms=snapshot.timestamp_ms,
            last_sequence_number=max(self.last_sequence_number, snapshot.sequence_number),
            refs=refs,
        )
