"""IcebergTable: snapshot-pinned reads into Spark DataFrames, metadata
inspection tables, and time travel.

Read lifecycle parity (/root/reference/icelake/src/table.rs:247-304,
io/scan.rs:60-194): catalog resolve → snapshot → manifest list →
manifests → live DataFiles → pruned, projected Parquet scan. Planning is
driver-side Python while manifests are few; above
`read.plan.distributed-threshold` manifests (default 512) planning itself
becomes a Spark job (see planning.py) so huge tables never bottleneck on
the driver. The scan itself is Spark's vectorized Parquet reader.

Merge-on-read (SURVEY §2.2 P5, §2.3 J3/J4): position deletes are applied
with an anti-join on (file_path, _metadata.row_index); equality deletes
with an anti-join on the equality-id columns gated by sequence number.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .types.datatypes import Schema
from .types.manifest import DataFile, read_manifest_list
from .types.metadata import MAIN_BRANCH, Snapshot, TableMetadata

if TYPE_CHECKING:
    from .catalog.storage import StorageCatalog


@dataclass
class FileScanTask:
    data_file: DataFile
    sequence_number: int
    spec_id: int


@dataclass
class DeleteFileTask:
    delete_file: DataFile
    sequence_number: int


class IcebergTable:
    def __init__(self, path: str, metadata: TableMetadata, current_version: int = 1,
                 catalog: "StorageCatalog | None" = None, identifier: str = ""):
        self.path = path
        self.metadata = metadata
        self.current_version = current_version
        self.catalog = catalog
        self.identifier = identifier

    # ---------------------------------------------------------- loading

    @classmethod
    def load(cls, path: str) -> "IcebergTable":
        from .catalog.storage import load_metadata

        metadata, version = load_metadata(path)
        return cls(path, metadata, current_version=version)

    def refresh(self) -> "IcebergTable":
        # catalog-managed tables re-load through the catalog (a REST
        # table has no local metadata/ dir to scan — the conflict-retry
        # path refreshes, and a filesystem load there would crash or
        # rebase on stale files the server does not maintain)
        if self.catalog is not None and getattr(self, "identifier", None):
            t = self.catalog.load_table(self.identifier)
            self.metadata, self.current_version = t.metadata, t.current_version
            return self
        from .catalog.storage import load_metadata

        self.metadata, self.current_version = load_metadata(self.path)
        return self

    def schema(self) -> Schema:
        return self.metadata.current_schema()

    # ------------------------------------------------------ path fixups

    def _resolve(self, path: str) -> str:
        """Map a metadata-recorded absolute path into this table's dir.
        Delegates to planning.resolve_path — the ONE implementation of
        path re-rooting (driver and executors must agree; review r3
        found three drifting copies)."""
        from .planning import resolve_path

        return resolve_path(self.path, path)

    # ------------------------------------------------------- snapshots

    def current_snapshot(self) -> Snapshot | None:
        return self.metadata.current_snapshot()

    def snapshot(self, snapshot_id: int | None = None, as_of_ms: int | None = None,
                 ref: str | None = None) -> Snapshot | None:
        if snapshot_id is not None:
            return self.metadata.snapshot_by_id(snapshot_id)
        if as_of_ms is not None:
            # ancestry-filtered in TableMetadata.snapshot_as_of (WAP
            # branch-staged snapshots must never resolve)
            return self.metadata.snapshot_as_of(as_of_ms)
        if ref is not None:
            s = self.metadata.snapshot_by_ref(ref)
            if s is None:
                if ref == "main":
                    # the spec allows metadata to OMIT the main ref
                    # entry (older v1 / external writers): the implied
                    # main branch is current-snapshot-id (review r12 —
                    # ref='main' crashed on tables current_snapshot()
                    # reads fine)
                    return self.current_snapshot()
                raise KeyError(f"ref {ref!r} not found")
            return s
        return self.current_snapshot()

    # ---------------------------------------------------------- planning

    def new_scan(self, **kwargs) -> "TableScan":
        return TableScan(self, **kwargs)

    def to_df(self, spark: SparkSession, columns: list[str] | None = None,
              **scan_kwargs) -> DataFrame:
        return self.new_scan(columns=columns, **scan_kwargs).to_df(spark)

    # ------------------------------------------------- inspection tables

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (s.snapshot_id, s.parent_snapshot_id, s.timestamp_ms, s.sequence_number,
             s.summary.get("operation", "append"), s.manifest_list)
            for s in self.metadata.snapshots
        ]
        return spark.createDataFrame(
            rows, "snapshot_id long, parent_id long, committed_at_ms long, "
                  "sequence_number long, operation string, manifest_list string")

    def history_df(self, spark: SparkSession) -> DataFrame:
        rows = [(h["timestamp-ms"], h["snapshot-id"]) for h in self.metadata.snapshot_log]
        return spark.createDataFrame(rows, "made_current_at_ms long, snapshot_id long")

    def files_df(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """`files` metadata table as a DISTRIBUTED projection of the plan
        DataFrame (planning.plan_files_df): at a million files nothing
        is ever collected to the driver — callers aggregate or filter
        the result like any other DataFrame."""
        pdf = self.new_scan(snapshot_id=snapshot_id).plan_files_df(spark)
        return pdf.select(
            "content", "file_path", "file_format", "partition",
            "record_count", F.col("file_size").alias("file_size_in_bytes"))

    def partitions_df(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """`partitions` metadata table: per-partition record/file counts,
        aggregated distributively from the plan DataFrame (a groupBy over
        planning.plan_files_df, no driver-side dict)."""
        pdf = self.new_scan(snapshot_id=snapshot_id).plan_files_df(spark)
        return (pdf.where(F.col("content") == 0)
                .groupBy("partition")
                .agg(F.sum("record_count").alias("record_count"),
                     F.count("*").alias("file_count"))
                .orderBy("partition"))

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """`refs` metadata table: branches and tags with their retention
        policy (the inspection face of the ref-aware expiry in
        maintenance.expire_snapshots)."""
        rows = [
            (name, r.type, r.snapshot_id, r.min_snapshots_to_keep,
             r.max_snapshot_age_ms, r.max_ref_age_ms)
            for name, r in sorted(self.metadata.refs.items())
        ]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long, "
                  "min_snapshots_to_keep int, max_snapshot_age_ms long, "
                  "max_ref_age_ms long")

    def manifests_df(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        snap = self.snapshot(snapshot_id)
        rows = []
        if snap:
            for mle in read_manifest_list(self._resolve(snap.manifest_list)):
                rows.append((mle.manifest_path, mle.manifest_length, mle.partition_spec_id,
                             mle.content, mle.added_snapshot_id, mle.added_files_count,
                             mle.existing_files_count, mle.deleted_files_count))
        return spark.createDataFrame(
            rows, "path string, length long, partition_spec_id int, content int, "
                  "added_snapshot_id long, added_data_files_count int, "
                  "existing_data_files_count int, deleted_data_files_count int")

    def data_files_df(self, spark: SparkSession,
                      snapshot_id: int | None = None) -> DataFrame:
        """`data_files` metadata table — files_df restricted to
        content=0 (the live data-file inventory)."""
        return self.files_df(spark, snapshot_id).where(F.col("content") == 0)

    def delete_files_df(self, spark: SparkSession,
                        snapshot_id: int | None = None) -> DataFrame:
        """`delete_files` metadata table — position (content=1) and
        equality (content=2) delete files the next scan will apply;
        its row count is exactly what rewrite_position_delete_files
        compacts down."""
        return self.files_df(spark, snapshot_id).where(F.col("content") != 0)

    def position_deletes_df(self, spark: SparkSession,
                            snapshot_id: int | None = None) -> DataFrame:
        """`position_deletes` metadata table: the ROW-LEVEL content of
        every position-delete file the (time-travelable) snapshot
        applies — (data file_path, pos) pairs plus the delete file they
        came from and its sequence number. Distributed: the delete
        parquet files are scanned by Spark executors and joined to the
        small per-file metadata map; nothing row-level touches the
        driver (a bulk delete can hold billions of pairs). Iceberg's
        table of the same name; the reference walks delete entries
        driver-side in table.rs:281-304."""
        from .planning import (canon_data_path, canon_data_path_col,
                               canonical_partition)

        _, pos, _ = self.new_scan(snapshot_id=snapshot_id).plan_files()
        schema = ("file_path string, pos long, partition string, "
                  "delete_file_path string, delete_sequence_number long")
        pos = [t for t in pos
               if (t.delete_file.file_format or "PARQUET").upper()
               == "PARQUET"]
        if not pos:
            return spark.createDataFrame([], schema)
        meta = spark.createDataFrame(
            [(canon_data_path(t.delete_file.file_path),
              t.delete_file.file_path,
              canonical_partition(t.delete_file.partition),
              t.sequence_number) for t in pos],
            "__src string, delete_file_path string, partition string, "
            "delete_sequence_number long")
        raw = (read_position_deletes(
                   spark, [t.delete_file.file_path for t in pos])
               .select("file_path", "pos",
                       canon_data_path_col(F.col("_metadata.file_path"))
                       .alias("__src")))
        return (raw.join(F.broadcast(meta), "__src")
                .select("file_path", "pos", "partition",
                        "delete_file_path", "delete_sequence_number"))

    def entries_df(self, spark: SparkSession,
                   snapshot_id: int | None = None) -> DataFrame:
        """`entries` metadata table: one row per manifest entry of the
        (time-travelable) snapshot, INCLUDING status=2 tombstones that
        every planning path skips — the only inspection surface where a
        rewrite's removals stay visible. Distributed (planning.
        manifest_entries_df); nothing collected driver-side."""
        from . import planning

        snap = self.snapshot(snapshot_id)
        mles = (read_manifest_list(self._resolve(snap.manifest_list))
                if snap else [])
        return planning.manifest_entries_df(
            spark, self.path, mles).drop("mi", "fi")

    def all_manifests_df(self, spark: SparkSession) -> DataFrame:
        """`all_manifests` metadata table: manifests of EVERY snapshot
        (current and historical), with `reference_snapshot_id` saying
        which snapshot referenced each row — the input inventory for
        expire_snapshots / remove_orphan_files audits."""
        rows = []
        for s in self.metadata.snapshots:
            for mle in read_manifest_list(self._resolve(s.manifest_list)):
                rows.append((mle.manifest_path, mle.manifest_length,
                             mle.partition_spec_id, mle.content,
                             mle.added_snapshot_id, s.snapshot_id))
        return spark.createDataFrame(
            rows, "path string, length long, partition_spec_id int, "
                  "content int, added_snapshot_id long, "
                  "reference_snapshot_id long")

    def all_files_df(self, spark: SparkSession) -> DataFrame:
        """`all_files` metadata table: live files referenced by ANY
        snapshot. Manifests are deduplicated across snapshots before
        the distributed plan job runs (shared manifests are the common
        case — each commit carries most predecessors forward), then
        projected like files_df and made distinct on file identity."""
        seen: set[str] = set()
        mles = []
        for s in self.metadata.snapshots:
            for mle in read_manifest_list(self._resolve(s.manifest_list)):
                if mle.manifest_path not in seen:
                    seen.add(mle.manifest_path)
                    mles.append(mle)
        from . import planning

        pdf = planning.plan_files_df(spark, self.path, self.metadata, mles)
        return (pdf.select(
            "content", "file_path", "file_format", "partition",
            "record_count", F.col("file_size").alias("file_size_in_bytes"))
            .distinct())

    def metadata_log_df(self, spark: SparkSession) -> DataFrame:
        """`metadata_log_entries` metadata table: the metadata-file
        lineage (one row per previous metadata.json plus the current
        one), with the latest snapshot id recorded at each point —
        what time-travel-by-metadata-version debugging reads."""
        rows = []
        for m in self.metadata.metadata_log:
            ts = m.get("timestamp-ms")
            sid = None
            for h in self.metadata.snapshot_log:
                if ts is not None and h["timestamp-ms"] <= ts:
                    sid = h["snapshot-id"]
            rows.append((ts, m.get("metadata-file"), sid))
        cur = self.metadata.current_snapshot()
        from .fileio import io_join

        rows.append((self.metadata.last_updated_ms,
                     io_join(self.path, "metadata",
                             f"v{self.current_version}.metadata.json"),
                     cur.snapshot_id if cur else None))
        return spark.createDataFrame(
            rows, "timestamp_ms long, file string, latest_snapshot_id long")

    # --------------------------------------------------------------- sql

    def create_or_replace_view(self, spark: SparkSession, name: str,
                               **scan_kwargs) -> str:
        """Register the table's current (or time-travel) state as a temp
        view so the full Spark SQL surface applies to it."""
        self.to_df(spark, **scan_kwargs).createOrReplaceTempView(name)
        return name

    def sql(self, spark: SparkSession, query: str, view_name: str = "t",
            **scan_kwargs) -> DataFrame:
        """Run a SQL query with this table registered as `view_name`."""
        self.create_or_replace_view(spark, view_name, **scan_kwargs)
        return spark.sql(query)

    # ----------------------------------------------------- refs / evolve

    def _commit_metadata(self, new_metadata: TableMetadata,
                         base_metadata: TableMetadata | None = None) -> None:
        """Shared commit tail (also used by Transaction): metadata-log
        append, catalog swap (REST diff protocol or storage
        create-exclusive), version bump. `base_metadata` is the TRUE
        pre-commit state the REST update diff is computed against —
        it must never be a partially-staged metadata (the diff would
        omit the staged schema/spec updates)."""
        from .catalog.storage import (StorageCatalog, commit_metadata,
                                      with_metadata_log)

        base = base_metadata if base_metadata is not None else self.metadata
        if self.catalog is None or isinstance(self.catalog, StorageCatalog):
            # REST catalogs maintain metadata-log server-side; the
            # storage protocol appends the superseded file here so
            # `metadata_log_entries` has a lineage to show
            new_metadata = with_metadata_log(
                self.path, new_metadata, base, self.current_version)
        if self.catalog is not None:
            version = self.catalog.update_table(self.path, self.current_version,
                                                new_metadata,
                                                identifier=self.identifier,
                                                base_metadata=base)
        else:
            version = commit_metadata(self.path, new_metadata,
                                      self.current_version + 1)
        self.metadata = new_metadata
        self.current_version = version

    def create_ref(self, name: str, ref_type: str = "branch",
                   snapshot_id: int | None = None,
                   min_snapshots_to_keep: int | None = None,
                   max_snapshot_age_ms: int | None = None,
                   max_ref_age_ms: int | None = None) -> None:
        """Create a branch or tag pointing at a snapshot (refs map,
        in_memory.rs:2360-2410). The retention knobs drive ref-aware
        expire_snapshots: per-branch ancestor retention and ref expiry."""
        from dataclasses import replace as dc_replace

        from .types.metadata import SnapshotReference

        sid = snapshot_id if snapshot_id is not None else self.metadata.current_snapshot_id
        if sid is None:
            raise ValueError("table has no snapshot to reference")
        self.metadata.snapshot_by_id(sid)  # validate
        refs = dict(self.metadata.refs)
        existing = refs.get(name)
        if existing is not None and (existing.type == "tag"
                                     or existing.type != ref_type):
            # the same guard every other ref mutator enforces
            # (commit-time _moved_ref, fast_forward): a tag is
            # immutable and a ref never silently changes TYPE —
            # create_ref was the one door left open (review r11)
            raise ValueError(
                f"ref '{name}' already exists as a {existing.type}; "
                "tags are immutable and refs cannot change type "
                "(drop_ref first)")
        refs[name] = SnapshotReference(
            sid, ref_type, min_snapshots_to_keep=min_snapshots_to_keep,
            max_snapshot_age_ms=max_snapshot_age_ms,
            max_ref_age_ms=max_ref_age_ms)
        self._commit_metadata(dc_replace(self.metadata, refs=refs))

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        self.create_ref(name, "branch", snapshot_id)

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        self.create_ref(name, "tag", snapshot_id)

    def drop_ref(self, name: str) -> None:
        from dataclasses import replace as dc_replace

        if name == MAIN_BRANCH:
            raise ValueError("cannot drop the main branch")
        refs = dict(self.metadata.refs)
        refs.pop(name, None)
        self._commit_metadata(dc_replace(self.metadata, refs=refs))

    def add_column(self, name: str, type_str: str, doc: str | None = None) -> None:
        """Schema evolution: append a nullable column with a fresh field
        id (id-based evolution, in_memory.rs:436-453). Existing files are
        read with the new column as null."""
        from dataclasses import replace as dc_replace

        from .types.datatypes import NestedField, Schema, StructType, type_from_json

        cur = self.metadata.current_schema()
        if cur.field_by_name(name) is not None:
            raise ValueError(f"column {name!r} already exists")
        fid = self.metadata.last_column_id + 1
        new_field = NestedField(fid, name, type_from_json(type_str),
                                required=False, doc=doc)
        new_schema = Schema(
            struct=StructType(cur.fields + (new_field,)),
            schema_id=max(s.schema_id for s in self.metadata.schemas) + 1,
            identifier_field_ids=cur.identifier_field_ids,
        )
        self._commit_metadata(dc_replace(
            self.metadata,
            schemas=self.metadata.schemas + (new_schema,),
            current_schema_id=new_schema.schema_id,
            last_column_id=fid,
        ))

    def rename_column(self, old: str, new: str) -> None:
        """Schema evolution: rename a top-level column, keeping its field
        id (id-based evolution — data files are untouched). Files that
        bind by name find the old name in the schema history
        (binding.py)."""
        from dataclasses import replace as dc_replace

        from .types.datatypes import NestedField, Schema, StructType

        cur = self.metadata.current_schema()
        f = cur.field_by_name(old)
        if f is None:
            raise KeyError(f"column {old!r} not found")
        if cur.field_by_name(new) is not None:
            raise ValueError(f"column {new!r} already exists")
        fields = tuple(
            NestedField(x.field_id, new, x.field_type, x.required, x.doc)
            if x.field_id == f.field_id else x
            for x in cur.fields)
        new_schema = Schema(
            struct=StructType(fields),
            schema_id=max(s.schema_id for s in self.metadata.schemas) + 1,
            identifier_field_ids=cur.identifier_field_ids,
        )
        self._commit_metadata(dc_replace(
            self.metadata,
            schemas=self.metadata.schemas + (new_schema,),
            current_schema_id=new_schema.schema_id,
        ))

    def drop_column(self, name: str) -> None:
        """Schema evolution: drop a column (id-based — data files keep the
        column; reads simply stop projecting it)."""
        from dataclasses import replace as dc_replace

        from .types.datatypes import Schema, StructType

        cur = self.metadata.current_schema()
        field = cur.field_by_name(name)
        if field is None:
            raise KeyError(f"column {name!r} not found")
        if len(cur.fields) == 1:
            raise ValueError("cannot drop the last column")
        # dangling-reference guards: a dropped identifier column makes
        # every subsequent upsert build a None key; a dropped partition
        # source column wedges every append in partition_columns
        if field.field_id in (cur.identifier_field_ids or ()):
            raise ValueError(
                f"column {name!r} is an identifier (row-key) field; "
                "clear identifier_field_ids before dropping it")
        # only the DEFAULT spec gates the drop: new writes partition
        # through it, while historical specs' values are already
        # materialized in their manifests
        dspec = self.metadata.default_spec()
        if any(pf.source_column_id == field.field_id
               for pf in dspec.fields):
            raise ValueError(
                f"column {name!r} is a partition source of the default "
                f"spec {dspec.spec_id}; evolve the partition spec "
                "(update_spec) before dropping it")
        new_schema = Schema(
            struct=StructType(tuple(f for f in cur.fields if f.name != name)),
            schema_id=max(s.schema_id for s in self.metadata.schemas) + 1,
            identifier_field_ids=cur.identifier_field_ids,
        )
        self._commit_metadata(dc_replace(
            self.metadata,
            schemas=self.metadata.schemas + (new_schema,),
            current_schema_id=new_schema.schema_id,
        ))

    def stats(self) -> dict:
        """Quick table-level stats from the current snapshot's summary +
        manifest planning (file/row/byte counts, snapshot count)."""
        data, pos, eq = self.new_scan().plan_files()
        return {
            "snapshots": len(self.metadata.snapshots),
            "data_files": len(data),
            "position_delete_files": len(pos),
            "equality_delete_files": len(eq),
            "total_records": sum(t.data_file.record_count for t in data),
            "total_bytes": sum(t.data_file.file_size_in_bytes for t in data),
            "format_version": self.metadata.format_version,
            "partition_spec": [f.to_json() for f in self.metadata.default_spec().fields],
        }

    def set_properties(self, props: dict[str, str]) -> None:
        """Merge properties into the metadata; a None value REMOVES the
        key (Iceberg's UpdateProperties.remove — needed so ANALYZE can
        clear stale per-column stats, code-review r9)."""
        from dataclasses import replace as dc_replace

        merged = dict(self.metadata.properties)
        for k, v in props.items():
            if v is None:
                merged.pop(k, None)
            else:
                merged[k] = v
        self._commit_metadata(dc_replace(self.metadata, properties=merged))

    # ------------------------------------------------------------ write

    def append(self, df: DataFrame, **kwargs) -> None:
        from .write import append as _append

        _append(self, df, **kwargs)

    def add_files(self, paths: list[str], file_format: str = "PARQUET",
                  partition: dict | None = None) -> None:
        """Register existing data files into the table without rewriting
        them (Iceberg's `add_files` procedure). Each entry comes from the
        writer tree's one DataFile builder: counts and bounds from
        parquet footers, row counts for ORC and Avro."""
        from .fileio import dirname, norm_path, resolve_io
        from .transaction import Transaction
        from .write import _build_data_file

        schema = self.schema()
        entries = []
        for p in map(norm_path, paths):
            entry = _build_data_file(p, dirname(p), schema, {},
                                     io=resolve_io(p),
                                     file_format=file_format)
            entry.partition = dict(partition or {})
            entries.append(entry)
        tx = Transaction(self)
        tx.add_data_files(entries)
        tx.commit("append")

    def overwrite_all(self, df: DataFrame, **kwargs) -> None:
        from .write import overwrite_all as _ow

        _ow(self, df, **kwargs)

    def delete_where(self, spark: SparkSession, condition: str,
                     branch: str | None = None) -> None:
        from .delta import delete_rows

        delete_rows(self, spark, condition, branch=branch)

    def fast_forward(self, ref: str, to_ref: str) -> None:
        """Publish: point `ref` at `to_ref`'s head (write-audit-publish
        final step). Fast-forwarding main also moves the current
        snapshot."""
        from dataclasses import replace as dc_replace

        from .types.metadata import SnapshotReference

        src = self.metadata.refs.get(to_ref)
        if src is None:
            raise KeyError(f"ref {to_ref!r} not found")
        refs = dict(self.metadata.refs)
        existing = refs.get(ref)
        if existing is not None and existing.type == "tag":
            raise ValueError(f"cannot fast-forward tag {ref!r} (tags are "
                             "immutable; use create_tag for a new one)")
        if (existing is not None
                and existing.snapshot_id not in
                self.metadata.ancestry_ids(src.snapshot_id)):
            raise ValueError(
                f"{ref!r} is not an ancestor of {to_ref!r}'s head — "
                "not a fast-forward")
        # preserve the target ref's retention knobs across the publish
        refs[ref] = SnapshotReference(
            src.snapshot_id, "branch",
            min_snapshots_to_keep=(existing.min_snapshots_to_keep
                                   if existing else None),
            max_snapshot_age_ms=(existing.max_snapshot_age_ms
                                 if existing else None),
            max_ref_age_ms=existing.max_ref_age_ms if existing else None)
        new_md = dc_replace(self.metadata, refs=refs)
        if ref == MAIN_BRANCH:
            new_md = dc_replace(new_md, current_snapshot_id=src.snapshot_id)
        self._commit_metadata(new_md)

    def rollback_to(self, snapshot_id: int) -> None:
        """Point current + main back at an earlier snapshot (metadata-only)."""
        from .maintenance import rollback_to as _rb

        _rb(self, snapshot_id)

    def rewrite_manifests(self) -> int:
        """Compact the manifest tree into one manifest per spec."""
        from .maintenance import rewrite_manifests as _rm

        return _rm(self)

    def update_where(self, spark: SparkSession, condition: str,
                     assignments: dict[str, str]) -> None:
        """Row-level UPDATE ... SET (MoR or CoW per `write.update.mode`)."""
        from .delta import update_rows

        update_rows(self, spark, condition, assignments)

    def update_column_type(self, name: str, type_str: str) -> None:
        """Schema evolution: widen a column's type in place (same field
        id — data files are untouched; readers widen on the fly: the
        vectorized parquet reader upcasts against the explicit read
        schema, the DSv2 arrow lane casts per batch). Only the
        promotions the Iceberg spec allows: int→long, float→double,
        decimal(P,S)→decimal(P',S) with P' ≥ P (in_memory.rs schema
        evolution; spec 'Schema Evolution' table)."""
        from dataclasses import replace as dc_replace

        from .types.datatypes import (NestedField, Schema, StructType,
                                      type_from_json)

        cur = self.metadata.current_schema()
        f = cur.field_by_name(name)
        if f is None:
            raise KeyError(f"column {name!r} not found")
        new_t = type_from_json(type_str)
        old_t = f.field_type
        old_n = getattr(old_t, "name", None)
        new_n = getattr(new_t, "name", None)
        ok = ((old_n, new_n) in (("int", "long"), ("float", "double"))
              or (old_n == new_n == "decimal"
                  and new_t.scale == old_t.scale
                  and new_t.precision >= old_t.precision))
        if new_t == old_t:
            return
        if not ok:
            raise ValueError(
                f"cannot change column {name!r} from {old_t} to {new_t}: "
                "allowed promotions are int->long, float->double, "
                "decimal(P,S)->decimal(P',S) with P' >= P")
        fields = tuple(
            NestedField(x.field_id, x.name, new_t, x.required, x.doc)
            if x.field_id == f.field_id else x
            for x in cur.fields)
        new_schema = Schema(
            struct=StructType(fields),
            schema_id=max(s.schema_id for s in self.metadata.schemas) + 1,
            identifier_field_ids=cur.identifier_field_ids,
        )
        self._commit_metadata(dc_replace(
            self.metadata,
            schemas=self.metadata.schemas + (new_schema,),
            current_schema_id=new_schema.schema_id,
        ))

    def replace_sort_order(self, fields: list[tuple] | None) -> None:
        """Install a new default sort order (O3): `fields` is a list of
        (column, direction, null_order[, transform]) tuples, or
        None/[] for WRITE UNORDERED (order 0, the unsorted order).
        Writers execute it (write.py _sort_columns) — unlike the
        reference, which records orders without executing them
        (in_memory.rs:1059-1152)."""
        from dataclasses import replace as dc_replace

        from .types.metadata import SortField, SortOrder

        if not fields:
            self._commit_metadata(dc_replace(
                self.metadata, default_sort_order_id=0))
            return
        schema = self.metadata.current_schema()
        sfs = []
        for spec in fields:
            col, direction, null_order = spec[0], spec[1], spec[2]
            transform = spec[3] if len(spec) > 3 else "identity"
            f = schema.field_by_name(col)
            if f is None:
                raise KeyError(f"sort column {col!r} not found")
            if direction not in ("asc", "desc"):
                raise ValueError(f"bad sort direction {direction!r}")
            if null_order not in ("nulls-first", "nulls-last"):
                raise ValueError(f"bad null order {null_order!r}")
            sfs.append(SortField(f.field_id, transform, direction,
                                 null_order))
        new = SortOrder(
            order_id=max(s.order_id for s in self.metadata.sort_orders) + 1,
            fields=tuple(sfs))
        # reuse an existing identical order instead of growing the list
        for s in self.metadata.sort_orders:
            if s.fields == new.fields:
                self._commit_metadata(dc_replace(
                    self.metadata, default_sort_order_id=s.order_id))
                return
        self._commit_metadata(dc_replace(
            self.metadata,
            sort_orders=self.metadata.sort_orders + (new,),
            default_sort_order_id=new.order_id))

    def update_spec(self, *parts: str) -> None:
        """Partition evolution: install a new default partition spec
        without rewriting data (partition_specs list + default_spec_id,
        in_memory.rs:2454-2538). Each part is `"col"` (identity),
        `"year(col)" / "month(col)" / "day(col)" / "hour(col)"`,
        `"bucket[N](col)"`, `"truncate[W](col)"`, or `"void(col)"`.
        Existing files keep their original spec — the scan resolves the
        spec per manifest entry — so only new writes use the new layout.
        """
        from dataclasses import replace as dc_replace

        from .types.metadata import PartitionSpec, build_partition_fields

        fields, next_fid = build_partition_fields(
            self.schema(), parts, self.metadata.last_partition_id)
        new_spec = PartitionSpec(
            spec_id=max(s.spec_id for s in self.metadata.partition_specs) + 1,
            fields=fields)
        self._commit_metadata(dc_replace(
            self.metadata,
            partition_specs=self.metadata.partition_specs + (new_spec,),
            default_spec_id=new_spec.spec_id,
            last_partition_id=next_fid,
        ))

    def upsert(self, df: DataFrame, **kwargs) -> None:
        from .delta import upsert as _upsert

        _upsert(self, df, **kwargs)

    def changes(self, spark: SparkSession,
                from_snapshot_id: int | None = None,
                to_snapshot_id: int | None = None) -> DataFrame:
        """Row-level changelog (CDC read) in (from, to]: table columns +
        _change_type/_commit_snapshot_id/_commit_order. See changelog.py."""
        from .changelog import changes as _changes

        return _changes(self, spark, from_snapshot_id, to_snapshot_id)

    def incremental(self, spark: SparkSession,
                    from_snapshot_id: int | None = None,
                    to_snapshot_id: int | None = None,
                    skip_overwrites: bool = False) -> DataFrame:
        """Incremental APPEND scan: rows added by append snapshots in
        (from, to] on the main ancestry — Iceberg's incremental read
        (the Spark connector's start-snapshot-id / end-snapshot-id).
        'replace' (compaction) and MoR 'delete' snapshots skip
        losslessly; an 'overwrite' (upsert/MERGE/CoW) RAISES unless
        skip_overwrites=True — its new rows are invisible to an
        append-only scan, and skipping silently lost them
        (code-review r9). Use changes() for row-level CDC."""
        from .streaming import stream_from_table

        return stream_from_table(spark, self, snapshot_id=from_snapshot_id,
                                 to_snapshot_id=to_snapshot_id,
                                 skip_overwrites=skip_overwrites)

    def merge_delta(self, df: DataFrame, op_col: str = "_op", **kwargs) -> None:
        from .delta import merge_delta as _md

        _md(self, df, op_col=op_col, **kwargs)


class TableScan:
    """Snapshot-pinned scan with projection and pruning
    (TableScanBuilder parity, io/scan.rs:29-141). `filter` (SQL text,
    or an expression `pruning` bound already) and `partition_filter`
    become one pruning expression over manifests, partitions and
    files. Pruning is inclusive, so `to_df` re-applies the whole text
    `filter` row by row and `partition_filter` as an exact residual; a
    pre-bound expression (the DataSource's pushed filters, which Spark
    re-applies) only prunes."""

    def __init__(self, table: IcebergTable, columns: list[str] | None = None,
                 snapshot_id: int | None = None, as_of_ms: int | None = None,
                 ref: str | None = None,
                 partition_filter: dict[str, Any] | None = None,
                 filter: Any = None,
                 apply_deletes: bool = True,
                 distributed_planning: bool | None = None):
        self.table = table
        self.columns = columns
        self.snapshot_id = snapshot_id
        self.as_of_ms = as_of_ms
        self.ref = ref
        self.partition_filter = partition_filter
        self.filter = filter
        self.apply_deletes = apply_deletes
        self.distributed_planning = distributed_planning

    # ----------------------------------------------------------- planning

    def plan_files(self, spark: SparkSession | None = None,
                   ) -> tuple[list[FileScanTask], list[DeleteFileTask], list[DeleteFileTask]]:
        """snapshot → pruned (data, pos-delete, eq-delete) tasks.

        Pruning happens at three levels, cheapest first: whole manifests
        via manifest-list FieldSummaries, then per-file partition-tuple
        match (io/scan.rs:120-122), then per-file zone maps (min/max
        bounds). With a session and ≥ read.plan.distributed-threshold
        manifests, manifest decode + file pruning run as a Spark job so
        driver memory never bounds table size (SURVEY §7 risk 8).

        The result is memoized per scan instance (snapshot-pinned, so
        deterministic): callers like compaction that plan for sizing and
        then to_df() the same scan decode the manifest tree once."""
        if getattr(self, "_plan_cache", None) is not None:
            return self._plan_cache
        from . import planning

        snap, mles, expr = self._pruned_manifests(spark)
        if snap is None:
            return [], [], []
        meta = self.table.metadata
        use_dist = self.distributed_planning
        if use_dist is None:
            thr = int(meta.properties.get(
                "read.plan.distributed-threshold",
                planning.DISTRIBUTED_PLANNING_THRESHOLD))
            use_dist = spark is not None and len(mles) >= thr
        if use_dist and spark is not None:
            tasks = planning.plan_distributed(spark, self.table.path, meta,
                                              mles, expr)
        else:
            tasks = planning.plan_serial(self.table.path, meta, mles, expr)
        self._plan_cache = planning.split_tasks(
            tasks, FileScanTask, DeleteFileTask)
        return self._plan_cache

    def plan_files_df(self, spark: SparkSession) -> DataFrame:
        """The scan plan as a DATAFRAME that is never collected: one row
        per surviving file (mi, fi, content, file_path, seq, spec_id,
        record_count, file_size, task=pickled DataFile). This is the
        scale path SURVEY §7 risk 8 calls for — the reference's planner
        is driver-side (/root/reference/icelake/src/table.rs:281-304),
        so at millions of files the file list itself bounds the driver;
        here sizing/aggregation consumers (compaction pickers, stats,
        file-level audits) operate on the plan distributively and only
        ever collect aggregates. `split_tasks` accepts this DataFrame
        directly, streaming rows when a materialized task list is
        genuinely needed (e.g. to hand Spark's parquet reader its path
        list)."""
        from . import planning

        snap, mles, expr = self._pruned_manifests(spark)
        if snap is None:
            return spark.createDataFrame([], planning.PLAN_DF_SCHEMA)
        return planning.plan_files_df(spark, self.table.path,
                                      self.table.metadata, mles, expr)

    def _pruned_manifests(self, spark: SparkSession | None):
        """(snapshot, manifest-list entries left after FieldSummary
        pruning, the scan's pruning expression): the planning input both
        plan_files and plan_files_df start from. The snapshot is None
        when the scan resolves to none."""
        from . import planning, pruning

        snap = self.table.snapshot(self.snapshot_id, self.as_of_ms, self.ref)
        if snap is None:
            return None, [], None
        meta = self.table.metadata
        mles = read_manifest_list(self.table._resolve(snap.manifest_list))
        expr = self.filter
        if isinstance(expr, str):
            expr = pruning.from_sql(spark, expr, self._read_schema())
        expr = pruning.conj([expr, pruning.from_partition_filter(
            meta, self.partition_filter)])
        return snap, planning.prune_manifests(mles, meta, expr), expr

    # ---------------------------------------------------------- execution

    def _read_schema(self) -> Schema:
        """The schema rows are read with. Schema evolution: explicit
        time-travel reads use the schema the snapshot was written under
        (io/scan.rs:60-80); current reads use the current schema (old
        files project new columns as null)."""
        time_travel = (self.snapshot_id is not None or self.as_of_ms is not None
                       or (self.ref is not None and self.ref != MAIN_BRANCH))
        if time_travel:
            snap = self.table.snapshot(self.snapshot_id, self.as_of_ms, self.ref)
            if snap is not None and snap.schema_id is not None:
                try:
                    return self.table.metadata.schema_by_id(snap.schema_id)
                except KeyError:
                    pass
        return self.table.schema()

    def to_df(self, spark: SparkSession) -> DataFrame:
        data, pos, eq = self.plan_files(spark)
        schema = self._read_schema()
        spark_schema = schema.to_spark()
        # zero-row files (empty output tasks committed by pre-r13
        # writers, or external writers) contribute nothing, and having
        # no column stats they survive every zone-map prune — skip them
        # so a fully-pruned scan never opens one. The files metadata
        # table intentionally still lists them (metadata fidelity).
        data = [t for t in data
                if (t.data_file.record_count is None
                    or t.data_file.record_count > 0)]
        if not data:
            df = spark.createDataFrame([], spark_schema)
            return df.select(*self.columns) if self.columns else df

        need_mor = self.apply_deletes and (pos or eq)
        df = self.read_mapped(spark, schema, spark_schema, data,
                              with_position=need_mor)

        if need_mor:
            df = self._apply_deletes(spark, df, data, pos, eq,
                                     read_schema=schema)

        if isinstance(self.filter, str) and self.filter:
            df = df.where(self.filter)
        residual = self._partition_residual(schema)
        if residual is not None:
            # partition_filter is EXACT WHERE semantics, not just
            # pruning: files kept conservatively (older specs lacking
            # the field, uncoercible values) would otherwise leak
            # non-matching rows into results after spec evolution
            # (code-review r8). Catalyst pushes this to the scan, so
            # exactly-pruned files pay nothing. It goes ABOVE the
            # caller's filter: an integer bucket transform calls
            # `reflect`, which Catalyst treats as non-deterministic, and
            # no filter is pushed down through a non-deterministic one.
            df = df.where(residual)
        if self.columns:
            df = df.select(*self.columns)
        return df

    def read_mapped(self, spark: SparkSession, schema: Schema,
                    spark_schema, tasks, with_position: bool = False
                    ) -> DataFrame:
        """Read data-file tasks under the table's column-binding rule
        (binding.py; the DataSource's too): own parquet files that record
        field ids through Spark's field-id reader, every other file by
        current, then former name. In the id read a reused name is read
        under a synthetic one and aliased back: Spark pushes row-group
        filters by NAME, onto the other field's physical column."""
        from pyspark.sql import types as T

        from .binding import FIELD_ID_KEY, FIELD_ID_READ, name_binding

        names = [f.name for f in spark_schema.fields]
        helpers = ["__file", "__pos"] if with_position else []
        binding = name_binding(self.table.metadata, schema)
        by_id = self._id_bound(tasks)
        parts = []
        if by_id:
            spark.conf.set(FIELD_ID_READ, "true")
            read_as = [f"__fid{f.field_id}" if f.name in binding.reused
                       else f.name for f in schema.fields]
            df = read_data_files(spark, T.StructType([
                T.StructField(r, sf.dataType, True, {FIELD_ID_KEY: f.field_id})
                for r, f, sf in zip(read_as, schema.fields, spark_schema.fields)
            ]), [t for t in tasks if t.data_file.file_path in by_id],
                with_position=with_position)
            # explicit empty metadata: the frame carries no field ids
            parts.append(df.select(*[F.col(r).alias(n, metadata={})
                                     for r, n in zip(read_as, names)],
                                   *helpers))
        rest = [t for t in tasks if t.data_file.file_path not in by_id]
        if rest:
            olds = {n: binding.names(n)[1:] for n in names}
            extra = [T.StructField(o, sf.dataType, True)
                     for sf in spark_schema.fields for o in olds[sf.name]]
            df = read_data_files(
                spark, T.StructType(list(spark_schema.fields) + extra),
                rest, with_position=with_position)
            if extra:
                df = df.select(*[F.coalesce(n, *olds[n]).alias(n)
                                 if olds[n] else F.col(n) for n in names],
                               *helpers)
            parts.append(df)
        return functools.reduce(DataFrame.unionByName, parts)

    def _id_bound(self, tasks) -> set[str]:
        """Paths of the tasks' files that bind by field id (a footer
        check: Spark's field-id reader rejects a file that has none)."""
        import pyarrow.parquet as pq

        from .binding import is_foreign_file, parquet_ids
        from .datasource import _arrow_src, _store_of
        from .fileio import is_uri, resolve_io

        path = self.table.path
        io = resolve_io(path) if is_uri(path) else None
        return {f for t in tasks
                if (t.data_file.file_format or "PARQUET").upper() == "PARQUET"
                and not is_foreign_file(path, f := t.data_file.file_path)
                and parquet_ids(pq.read_schema(
                    _arrow_src(f, _store_of(path), io)))}

    def _partition_residual(self, schema: Schema):
        """Row-level equivalent of partition_filter, rendered from the
        same leaves that prune (pruning.from_partition_filter): a key
        naming a partition field filters transform(source) <=> value, a
        key naming a column filters column <=> value. Files kept by
        pruning (older specs lacking the field, uncoercible values)
        would otherwise leak non-matching rows after spec evolution."""
        from .pruning import from_partition_filter, leaves
        from .types.transforms import transform_column

        conds = []
        for lf in leaves(from_partition_filter(self.table.metadata,
                                               self.partition_filter)):
            f = schema.field_by_id(lf.fid)
            if f is None:
                continue
            col = F.col(f.name)
            if lf.transform is not None:
                col = transform_column(lf.transform, col, f.field_type)
            conds.append(col.eqNullSafe(F.lit(lf.value)))
        return functools.reduce(lambda a, b: a & b, conds) if conds else None

    def _apply_deletes(self, spark: SparkSession, df: DataFrame,
                       data: list[FileScanTask], pos: list[DeleteFileTask],
                       eq: list[DeleteFileTask], how: str = "left_anti",
                       drop_helpers: bool = True,
                       read_schema=None) -> DataFrame:
        """MoR: join a scan's deletes onto rows read with __file/__pos
        (read_data_files' with_position; __pos is _metadata.row_index —
        stable, no per-file sort).

        how="left_anti" keeps the rows NO delete covers (reads, DML
        working sets, changelog parents); how="left_semi" keeps the rows
        SOME delete covers (changelog delete events). Sequence gates,
        equality groups, partition scopes and broadcast decisions all
        come from planning.plan_deletes, shared with the DataSource.
        drop_helpers=False keeps __file/__pos/__file_c/__data_seq for a
        follow-up join (changelog, CoW/MoR DML).
        """
        from .planning import (canon_data_path, canon_data_path_col,
                               eq_delete_applies, plan_deletes,
                               pos_delete_applies)
        from .types.datatypes import StructType

        schema = read_schema if read_schema is not None \
            else self.table.schema()
        plan = plan_deletes(data, pos, eq, schema, self.table.metadata)

        def side(side_df: DataFrame, broadcast: bool) -> DataFrame:
            if broadcast:
                return F.broadcast(side_df)
            # over the gate: FORCE the shuffle join. Catalyst's own size
            # estimate of a bare parquet scan can come in under
            # autoBroadcastJoinThreshold and re-introduce the broadcast
            # this gate exists to prevent (an unbounded bulk-delete set
            # broadcast = driver OOM at scale)
            return side_df.hint("shuffle_hash")

        def read_deletes(tasks: list[DeleteFileTask],
                         key_schema: Schema | None = None) -> DataFrame:
            """Delete-file rows plus __src, the canon path of the delete
            file holding each row (joined to its sequence number):
            position deletes by their reserved names, equality-delete
            keys through read_mapped with an explicit key schema."""
            if key_schema is None:
                return read_position_deletes(
                    spark, [t.delete_file.file_path for t in tasks]
                ).withColumn("__src", canon_data_path_col(
                    F.col("_metadata.file_path")))
            return self.read_mapped(
                spark, key_schema, key_schema.to_spark(),
                [FileScanTask(t.delete_file, t.sequence_number, 0)
                 for t in tasks], with_position=True,
            ).withColumn("__src", canon_data_path_col(F.col("__file")))

        def with_del_seq(side_df: DataFrame, tasks) -> DataFrame:
            return _attach_seq_map(
                spark, side_df,
                [(canon_data_path(t.delete_file.file_path),
                  t.sequence_number) for t in tasks],
                "__src", "__del_seq")

        # Every file-path comparison runs on the location-independent
        # canon form __file_c: delete-file CONTENT records writer-era
        # absolute paths, and a relocated table (golden fixture,
        # restored backup) would otherwise never match them — deletes
        # silently unapplied (review r3). __file keeps the REAL path:
        # CoW rewrites and new position-delete content need it.
        if "__data_seq" not in df.columns:
            _check_canon_collisions(data)
            df = _attach_seq_map(
                spark, df.withColumn("__file_c",
                                     canon_data_path_col(F.col("__file"))),
                plan.data_seq, "__file_c", "__data_seq")

        # (delete side, join condition); right-side columns carry
        # unique __del_/__eq_ names, so conditions bind by name
        joins: list[tuple[DataFrame, Any]] = []
        if plan.pos:
            pos_df = with_del_seq(
                read_deletes(plan.pos)
                .select(canon_data_path_col(F.col("file_path"))
                        .alias("__del_file"),
                        F.col("pos").alias("__del_pos"), "__src"),
                plan.pos)
            cond = ((F.col("__file_c") == F.col("__del_file"))
                    & (F.col("__pos") == F.col("__del_pos"))
                    & pos_delete_applies(F.col("__data_seq"),
                                         F.col("__del_seq")))
            joins.append((side(pos_df.select("__del_file", "__del_pos",
                                             "__del_seq"),
                               plan.pos_broadcast), cond))
        for g in plan.eq_groups:
            # the key columns bind like data columns: by field id, or by
            # current then former name (a delete file written before a
            # RENAME COLUMN); a key a file lacks reads NULL
            del_df = read_deletes(g.tasks, Schema(StructType(tuple(
                schema.field_by_name(c) for c in g.key_cols)),
                schema_id=schema.schema_id))
            # a key deleted at seq S covers all data with seq < S; keep
            # the max seq per key so one row per key suffices
            keys = (with_del_seq(del_df, g.tasks)
                    .groupBy(*g.key_cols)
                    .agg(F.max("__del_seq").alias("__del_seq"))
                    .select(*[F.col(c).alias(f"__eq_{c}")
                              for c in g.key_cols], "__del_seq"))
            # NULL-safe: an eq-delete of a NULL-keyed row must match it
            cond = None
            for c in g.key_cols:
                clause = F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
                cond = clause if cond is None else (cond & clause)
            cond = cond & eq_delete_applies(F.col("__data_seq"),
                                            F.col("__del_seq"))
            if g.data_files is not None:
                cond = cond & F.col("__file_c").isin(sorted(g.data_files))
            joins.append((side(keys, g.broadcast), cond))

        if how == "left_anti":
            for side_df, cond in joins:
                df = df.join(side_df, on=cond, how="left_anti")
        elif not joins:
            df = df.limit(0)
        else:
            matched = [df.join(side_df, on=cond, how=how)
                       for side_df, cond in joins]
            df = matched[0]
            for m in matched[1:]:
                df = df.unionByName(m)
            if len(matched) > 1:
                # one physical row may match several delete sides
                # (external writers mix key sets, or pos and eq deletes,
                # in one commit): it is still ONE delete event
                df = df.dropDuplicates(["__file_c", "__pos"])
        if drop_helpers:
            return df.drop("__file", "__pos", "__data_seq", "__file_c")
        return df


def _check_canon_collisions(data: "list[FileScanTask]") -> None:
    """Reject canon collisions between DISTINCT full paths even at the
    SAME sequence number (review r12: _attach_seq_map's seq-value
    guard passed same-commit imports whose relative path shadows an
    owned file, and a position delete for one then anti-joined rows
    out of BOTH)."""
    from .planning import canon_data_path

    by_canon: dict[str, str] = {}
    for t in data:
        k = canon_data_path(t.data_file.file_path)
        full = t.data_file.file_path
        if by_canon.setdefault(k, full) != full:
            raise ValueError(
                f"canonical data-path collision: {k!r} names both "
                f"{by_canon[k]!r} and {full!r} — imported files "
                f"must not shadow owned relative paths")


# at or below this entry count a path→seq lookup inlines as a literal
# create_map; above it, a broadcast join (the literal would bloat the
# plan — think million-file scans)
_SEQ_INLINE_MAX = 200


def _attach_seq_map(spark: SparkSession, df: DataFrame,
                    rows: list[tuple[str, int]],
                    key_col: str, out_col: str) -> DataFrame:
    """Attach `out_col` = sequence number looked up by `key_col`
    (canon file path). The inline form costs zero extra Spark jobs and
    no BroadcastExchange — at few-file scale those exchanges dominate
    an MoR scan; the join form keeps plans bounded at real file
    counts. Both produce null for unknown paths (left-join
    semantics)."""
    uniq: dict[str, int] = {}
    for k, v in rows:
        if k in uniq and uniq[k] != v:
            # two FILES canonicalized to the same key with different
            # sequence numbers (e.g. add_files importing a foreign file
            # whose relative path matches an owned one): the map would
            # assign one file the other's sequence number and the join
            # form would duplicate every matching data row
            raise ValueError(
                f"canonical data-path collision: {k!r} maps to both "
                f"seq {uniq[k]} and {v} — imported files must not "
                f"shadow owned relative paths")
        uniq[k] = v
    if len(uniq) <= _SEQ_INLINE_MAX:
        if not uniq:
            return df.withColumn(out_col, F.lit(None).cast("long"))
        m = F.create_map(*[F.lit(x) for kv in uniq.items() for x in kv])
        return df.withColumn(out_col, m[F.col(key_col)].cast("long"))
    side = spark.createDataFrame(sorted(uniq.items()),
                                 f"{key_col} string, {out_col} long")
    return df.join(F.broadcast(side), on=key_col, how="left")


def read_position_deletes(spark: SparkSession, paths: list[str]) -> DataFrame:
    """`file_path`, `pos` of position-delete files under an explicit
    schema: an inferred one carries one file's ids (binding.py)."""
    from .fileio import to_spark_paths

    return (spark.read.schema("file_path string, pos long")
            .parquet(*to_spark_paths(paths)))


def read_data_files(spark: SparkSession, spark_schema, tasks: list[FileScanTask],
                    with_position: bool = False) -> DataFrame:
    """Format-aware read of planned data files (S12): group by format —
    Spark reads parquet/orc/avro natively — and union the groups.

    with_position adds `__file`/`__pos` columns; the `_metadata`
    pseudo-column must be projected inside each format branch because it
    does not survive a union.
    """
    from .fileio import to_spark_paths

    raw_by_fmt: dict[str, list[str]] = {}
    for t in tasks:
        raw_by_fmt.setdefault((t.data_file.file_format or "PARQUET").upper(),
                              []).append(t.data_file.file_path)
    by_fmt = {fmt: to_spark_paths(paths) for fmt, paths in raw_by_fmt.items()}
    parts = []
    for fmt, paths in by_fmt.items():
        reader = spark.read.schema(spark_schema)
        file_col = None  # non-None when the branch attaches __file itself
        if fmt == "PARQUET":
            part = reader.parquet(*paths)
        elif fmt == "ORC":
            # .orc(*paths) stops at 6 varargs in Spark 4's typed
            # signature; .load takes the whole list
            part = reader.format("orc").load(paths)
        elif fmt == "AVRO":
            try:
                part = reader.format("avro").load(paths)
            except Exception as e:
                # fall back ONLY when the spark-avro module is absent;
                # any other load failure (corrupt file, bad path) must
                # surface, not be rerouted to a second reader
                if "Failed to find data source" not in str(e):
                    raise
                # pure-Python avro_io reader, one task per file
                # (avro_data.py); it attaches __file itself
                from .avro_data import read_avro_data

                # RAW paths, not the to_spark_paths translation: the
                # pure-Python lane reads through a driver-resolved
                # FileIO and pyarrow rejects JVM schemes (review r11)
                part = read_avro_data(spark, spark_schema,
                                      raw_by_fmt["AVRO"])
                file_col = F.col("__file")
        else:
            raise ValueError(f"unsupported data file format {fmt}")
        if with_position:
            # row_index exists only for parquet; non-parquet rows get a
            # null position (position deletes are never written for them
            # — delete_where rewrites those files copy-on-write instead)
            pos_col = (F.col("_metadata.row_index") if fmt == "PARQUET"
                       else F.lit(None).cast("long"))
            part = part.withColumns({
                "__file": file_col if file_col is not None else
                F.regexp_replace(F.col("_metadata.file_path"),
                                 r"^file:/*", "/"),
                "__pos": pos_col,
            })
        elif file_col is not None:
            part = part.drop("__file")
        parts.append(part)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df
