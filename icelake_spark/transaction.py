"""Transactional commits: buffer file operations, write manifests +
manifest list, produce a new snapshot, atomically swap metadata.

Parity target: /root/reference/icelake/src/transaction.rs
- op buffering :17-65, commit :66-104, manifest production :127-200,
  manifest-list union :229-246, next ids :164-169, snapshot :264-288;
- snapshot summary arithmetic: SnapshotSummaryBuilder,
  /root/reference/icelake/src/types/in_memory.rs:2162-2339;
- operation classification (append/overwrite/delete/replace):
  in_memory.rs:2219-2240.
All driver-side: manifests are KB-scale Avro; no Spark job involved.
"""

from __future__ import annotations

import time
import itertools
import uuid

from .fileio import basename, io_join, norm_path, resolve_io

from .types.manifest import (
    CONTENT_DATA,
    CONTENT_EQUALITY_DELETES,
    CONTENT_POSITION_DELETES,
    DataFile,
    MANIFEST_CONTENT_DATA,
    MANIFEST_CONTENT_DELETES,
    ManifestEntry,
    STATUS_ADDED,
    STATUS_DELETED,
    STATUS_EXISTING,
    read_manifest,
    read_manifest_list,
    write_manifest,
    write_manifest_list,
)
from .types.metadata import Snapshot


class Transaction:
    def __init__(self, table, branch: str | None = None):
        """branch: commit target ref. Default is the main branch; any
        other name commits a snapshot whose parent is that branch's head
        and moves only that ref — main and the current snapshot are
        untouched (write-audit-publish staging; publish with
        IcebergTable.fast_forward)."""
        from .types.metadata import MAIN_BRANCH

        self.table = table
        self.branch = branch or MAIN_BRANCH
        self._added_data: list[DataFile] = []
        self._added_deletes: list[DataFile] = []
        self._removed_paths: set[str] = set()
        self._removed_delete_paths: set[str] = set()
        self._remove_all = False
        self._regroup = False
        self._set_props: dict[str, str] = {}
        self._summary_extras: dict[str, str] = {}
        self._staged_schema = None
        self._staged_spec_parts: list[str] | None = None
        # base head at transaction start ON THE TARGET REF: the
        # conflict-retry validation walks the refreshed ref head back to
        # this id to detect concurrent file removals that would
        # invalidate this tx's delete files (a branch tx must validate
        # the BRANCH ancestry, not main's — code-review r8)
        base = self._ref_head(table.metadata)
        self._base_snapshot_id = base.snapshot_id if base else None

    # ------------------------------------------------------------- ops

    def add_data_files(self, files: list[DataFile]) -> "Transaction":
        self._added_data.extend(files)
        return self

    def add_delete_files(self, files: list[DataFile]) -> "Transaction":
        """Position- or equality-delete files (content already stamped).

        Delete files are a format-v2 feature (v1 manifests cannot even
        encode them); v1 row-level deletes must go copy-on-write."""
        if self.table.metadata.format_version < 2 and files:
            raise ValueError("delete files require format-version 2 "
                             "(v1 tables use copy-on-write deletes)")
        self._added_deletes.extend(files)
        return self

    def remove_data_files(self, paths: list[str]) -> "Transaction":
        self._removed_paths.update(norm_path(p) for p in paths)
        return self

    def remove_all_existing(self) -> "Transaction":
        self._remove_all = True
        return self

    def regroup_manifests(self) -> "Transaction":
        """Rewrite every live data-file entry into one manifest per
        partition spec, keeping each entry's snapshot id and sequence
        numbers; delete manifests carry forward unchanged and no file
        is added or removed (Iceberg's RewriteManifests). The snapshot
        summary records `manifests-replaced` (the parent's manifest
        count) and `manifests-created` (the new one)."""
        self._regroup = True
        return self

    def remove_delete_files(self, paths: list[str]) -> "Transaction":
        """Drop specific DELETE files (position/equality): the commit
        rewrites the delete manifests without them. Pair with
        add_delete_files carrying a merged replacement —
        delete-compaction (rewrite_position_deletes), the MoR scale
        lever against an ever-growing per-scan delete-file list."""
        self._removed_delete_paths.update(norm_path(p) for p in paths)
        return self

    def set_schema(self, schema) -> "Transaction":
        """Stage a replacement schema, installed ATOMICALLY with the
        commit (REPLACE TABLE / RTAS): committed metadata gains the
        schema under a fresh schema id, current-schema-id moves to it,
        last-column-id covers its field ids, and the snapshot plus its
        manifests are written against it. The caller allocates field
        ids (Schema.from_spark(start_id=last_column_id+1)) so they can
        never collide with ids old data files were written under —
        time travel to pre-replace snapshots keeps binding those files
        by THEIR snapshot's schema."""
        self._staged_schema = schema
        return self

    def set_default_spec(self, *parts: str) -> "Transaction":
        """Stage a default partition spec (same part grammar as
        IcebergTable.update_spec), resolved against the staged schema
        if one is set, else the current schema — installed atomically
        with the commit. Zero parts stages the unpartitioned spec
        (REPLACE TABLE with no PARTITIONED BY resets partitioning)."""
        self._staged_spec_parts = list(parts)
        return self

    def set_summary_extras(self, extras: dict[str, str]) -> "Transaction":
        """Extra snapshot-summary entries recorded on the committed
        snapshot (e.g. cherrypick's source-snapshot-id /
        published-wap-id provenance, Iceberg parity). Keys must not
        collide with the computed metric names."""
        self._summary_extras.update(extras)
        return self

    def set_properties(self, props: dict[str, str]) -> "Transaction":
        """Table properties committed ATOMICALLY with the snapshot —
        applied to the (possibly refreshed) metadata inside each commit
        attempt, so a conflict-retry cannot drop them. Mutating
        table.metadata.properties before commit() is NOT retry-safe:
        Transaction refreshes the table on conflict, wiping the edit."""
        self._set_props.update(props)
        return self

    # ---------------------------------------------------------- commit

    def commit(self, operation: str | None = None, retries: int = 3) -> Snapshot:
        """Commit with optimistic-conflict retry: on CommitConflict the
        table is refreshed and the ops re-applied against the new base.
        Plain appends are always safe to retry (data files are
        immutable). A tx carrying DELETE files additionally validates
        that no concurrent snapshot REMOVED data files since this tx's
        base — a racing compaction/CoW rewrite may have rewritten the
        rows this tx's position/equality deletes target (new files get
        a newer data sequence, so the deletes would silently no-op and
        the rows resurrect); in that case the conflict is re-raised for
        the caller to recompute (Iceberg's validateDataFilesExist
        discipline). A rewrite that raced a concurrent commit is NOT
        retried, matching the single-committer assumption of
        transaction.rs:164-169."""
        from .catalog.storage import CommitConflict

        attempt = 0
        while True:
            try:
                return self._commit_once(operation)
            except CommitConflict:
                from .metrics import record_conflict_retry

                record_conflict_retry(self._table_name())
                attempt += 1
                rewrite = (self._remove_all or self._removed_paths
                           or self._removed_delete_paths)
                if rewrite or attempt > retries:
                    raise
                self.table.refresh()
                if self._added_deletes and self._concurrent_file_removal():
                    raise

    def _commit_once(self, operation: str | None = None) -> Snapshot:
        table = self.table
        metadata = table.metadata
        # the TRUE base for the commit protocol: `metadata` is rebound
        # below when a staged schema/spec applies, and diffing against
        # the staged state would make the REST update body OMIT the
        # add-schema/add-spec updates entirely — the server would
        # record a snapshot referencing a schema it never received
        base_metadata = table.metadata
        meta_dir = io_join(table.path, "metadata")
        resolve_io(table.path).makedirs(meta_dir)

        from .types.metadata import MAIN_BRANCH

        if self.branch == MAIN_BRANCH:
            parent = metadata.current_snapshot()
        else:
            ref = metadata.refs.get(self.branch)
            # a new branch forks from the current snapshot
            parent = (metadata.snapshot_by_id(ref.snapshot_id) if ref
                      else metadata.current_snapshot())
        # reference increments the parent id (transaction.rs:164-169); we
        # allocate past ALL known ids so a post-rollback commit can never
        # collide with a rolled-past snapshot
        snapshot_id = max((s.snapshot_id for s in metadata.snapshots),
                          default=0) + 1
        seq = metadata.last_sequence_number + 1
        schema = metadata.current_schema()
        if self._staged_schema is not None:
            from dataclasses import replace as dc_replace

            sid = max(s.schema_id for s in metadata.schemas) + 1
            schema = dc_replace(self._staged_schema, schema_id=sid)
            metadata = dc_replace(
                metadata,
                schemas=metadata.schemas + (schema,),
                current_schema_id=sid,
                last_column_id=max(metadata.last_column_id,
                                   schema.highest_field_id()))
        spec = metadata.default_spec()
        if self._staged_spec_parts is not None:
            from dataclasses import replace as dc_replace

            from .types.metadata import PartitionSpec, build_partition_fields

            fields, next_fid = build_partition_fields(
                schema, self._staged_spec_parts, metadata.last_partition_id)
            same = tuple((f.source_column_id, f.transform, f.name)
                         for f in fields) == \
                tuple((f.source_column_id, f.transform, f.name)
                      for f in spec.fields)
            if not same:
                spec = PartitionSpec(
                    spec_id=max(s.spec_id
                                for s in metadata.partition_specs) + 1,
                    fields=fields)
                metadata = dc_replace(
                    metadata,
                    partition_specs=metadata.partition_specs + (spec,),
                    default_spec_id=spec.spec_id,
                    last_partition_id=next_fid)
        commit_uuid = str(uuid.uuid4())
        # ONE monotone counter for every manifest filename this commit
        # writes (review r11): the delete-manifest rewrite loop used
        # len(new_list_entries), which stays 0 until AFTER the loop —
        # a commit rewriting two delete manifests wrote both to
        # '<uuid>-m0.avro', the second silently overwriting the first
        # (surviving deletes vanished; deleted rows resurrected)
        _m_counter = itertools.count()

        def _next_m_path():
            return io_join(meta_dir, f"{commit_uuid}-m{next(_m_counter)}.avro")

        if operation is None:
            operation = self._classify()

        new_list_entries = []
        removed_count = removed_rows = removed_size = 0
        rm_del_files = rm_pos_rows = rm_eq_rows = 0
        rewrite = bool(self._remove_all or self._removed_paths
                       or self._removed_delete_paths or self._regroup)

        # carry forward previous manifests; rewrite them when removing files
        prev_entries = []
        if parent:
            prev_entries = read_manifest_list(table._resolve(parent.manifest_list))
        if not rewrite:
            new_list_entries.extend(prev_entries)
        else:
            # survivors grouped BY SOURCE SPEC: a spec-evolved table's
            # old-spec files must be re-written with their own partition
            # avro type — flattening them into the default spec drops
            # their partition values and breaks pruning
            survivors_by_spec: dict[int, list[ManifestEntry]] = {}
            delete_manifests_kept = []
            for mle in prev_entries:
                if mle.content == MANIFEST_CONTENT_DELETES:
                    # a full rewrite (replace/overwrite-all) materializes
                    # all deletes into the new files — drop the manifests
                    if self._remove_all:
                        # the dropped delete FILES' bytes were added to
                        # total-files-size when they committed; subtract
                        # them or the total carries ghost bytes forever
                        _, d_entries = read_manifest(
                            table._resolve(mle.manifest_path), mle)
                        removed_size += sum(
                            e.data_file.file_size_in_bytes
                            for e in d_entries if e.is_alive)
                        continue
                    if not self._removed_delete_paths:
                        delete_manifests_kept.append(mle)
                        continue
                    # delete-compaction: rewrite this manifest without
                    # the removed delete files. Surviving entries keep
                    # their ORIGINAL sequence numbers (explicit per-entry
                    # seq on STATUS_EXISTING) — applicability of an
                    # untouched delete file must not change
                    _, d_entries = read_manifest(
                        table._resolve(mle.manifest_path), mle)
                    keep = []
                    alive = 0
                    for e in d_entries:
                        if not e.is_alive:
                            continue
                        alive += 1
                        e.data_file.file_path = table._resolve(
                            e.data_file.file_path)
                        if (norm_path(e.data_file.file_path)
                                in self._removed_delete_paths):
                            removed_size += e.data_file.file_size_in_bytes
                            rm_del_files += 1
                            if e.data_file.content == 1:
                                rm_pos_rows += e.data_file.record_count
                            else:
                                rm_eq_rows += e.data_file.record_count
                        else:
                            e.status = STATUS_EXISTING
                            keep.append(e)
                    if len(keep) == alive:
                        delete_manifests_kept.append(mle)
                    elif keep:
                        try:
                            d_spec = metadata.spec_by_id(mle.partition_spec_id)
                        except KeyError:
                            d_spec = spec
                        m_path = _next_m_path()
                        delete_manifests_kept.append(write_manifest(
                            m_path, keep, d_spec, schema, snapshot_id,
                            metadata.format_version,
                            MANIFEST_CONTENT_DELETES, sequence_number=seq))
                    continue
                _, entries = read_manifest(table._resolve(mle.manifest_path),
                                           mle)
                # untouched data manifests carry forward AS-IS (the
                # same pattern the delete branch uses): rewriting every
                # manifest made a 1-file delete O(table) in metadata
                # I/O and collapsed FieldSummary pruning granularity to
                # one giant manifest per spec (code-review r8)
                if not (self._remove_all or self._regroup) and not any(
                        e.is_alive
                        and norm_path(table._resolve(e.data_file.file_path))
                        in self._removed_paths for e in entries):
                    delete_manifests_kept.append(mle)
                    continue
                for e in entries:
                    if not e.is_alive:
                        continue
                    e.data_file.file_path = table._resolve(e.data_file.file_path)
                    dropped = self._remove_all or (
                        norm_path(e.data_file.file_path) in self._removed_paths)
                    if dropped:
                        removed_count += 1
                        removed_rows += e.data_file.record_count
                        removed_size += e.data_file.file_size_in_bytes
                    else:
                        e.status = STATUS_EXISTING
                        survivors_by_spec.setdefault(
                            mle.partition_spec_id, []).append(e)
            new_list_entries.extend(delete_manifests_kept)
            for spec_id, survivors in sorted(survivors_by_spec.items()):
                try:
                    surv_spec = metadata.spec_by_id(spec_id)
                except KeyError:
                    surv_spec = spec
                m_path = _next_m_path()
                mle = write_manifest(m_path, survivors, surv_spec, schema, snapshot_id,
                                     metadata.format_version, MANIFEST_CONTENT_DATA,
                                     sequence_number=seq)
                new_list_entries.append(mle)

        # new data manifest
        if self._added_data:
            entries = [ManifestEntry(STATUS_ADDED, f, snapshot_id, seq)
                       for f in self._added_data]
            m_path = _next_m_path()
            mle = write_manifest(m_path, entries, spec, schema, snapshot_id,
                                 metadata.format_version, MANIFEST_CONTENT_DATA,
                                 sequence_number=seq)
            new_list_entries.append(mle)

        # new delete manifest (position + equality files together)
        if self._added_deletes:
            entries = [ManifestEntry(STATUS_ADDED, f, snapshot_id, seq)
                       for f in self._added_deletes]
            m_path = _next_m_path()
            mle = write_manifest(m_path, entries, spec, schema, snapshot_id,
                                 metadata.format_version, MANIFEST_CONTENT_DELETES,
                                 sequence_number=seq)
            new_list_entries.append(mle)

        # manifest list
        ml_path = io_join(meta_dir, f"snap-{snapshot_id}-1-{commit_uuid}.avro")
        write_manifest_list(ml_path, new_list_entries, snapshot_id,
                            parent.snapshot_id if parent else None, seq,
                            metadata.format_version)

        summary = self._summary(operation, parent, removed_count,
                                removed_rows, removed_size,
                                rm_del_files, rm_pos_rows, rm_eq_rows)
        if self._regroup:
            summary["manifests-replaced"] = str(len(prev_entries))
            summary["manifests-created"] = str(len(new_list_entries))
        snapshot = Snapshot(
            snapshot_id=snapshot_id,
            parent_snapshot_id=parent.snapshot_id if parent else None,
            sequence_number=seq,
            timestamp_ms=int(time.time() * 1000),
            manifest_list=ml_path,
            summary=summary,
            schema_id=schema.schema_id,
        )
        if self.branch == MAIN_BRANCH:
            new_metadata = metadata.with_snapshot(snapshot)
        else:
            new_metadata = metadata.with_branch_snapshot(snapshot, self.branch)
        if self._set_props:
            from dataclasses import replace as dc_replace

            new_metadata = dc_replace(
                new_metadata,
                properties={**new_metadata.properties, **self._set_props})

        # one shared commit tail (metadata-log append + catalog swap +
        # version bump) — the same sequence IcebergTable._commit_metadata
        # runs; two hand-maintained copies had already diverged on
        # base-metadata semantics (code-review r8)
        table._commit_metadata(new_metadata, base_metadata=base_metadata)

        from .metrics import record_commit

        record_commit(self._table_name(), operation, self._added_data,
                      self._added_deletes, removed_count)
        return snapshot

    # --------------------------------------------------------- internal

    def _concurrent_file_removal(self) -> bool:
        """True if any snapshot between this tx's base and the refreshed
        head removed data files (compaction 'replace', CoW
        delete/overwrite) — conservative: an unrelated removal also
        trips it, but a dropped DELETE is silent data corruption while
        a spurious CommitConflict is a visible, recomputable error."""
        md = self.table.metadata
        snap = self._ref_head(md)
        seen = 0
        while snap is not None and snap.snapshot_id != self._base_snapshot_id:
            s = snap.summary or {}
            if (s.get("operation") == "replace"
                    or int(s.get("deleted-data-files", 0) or 0) > 0):
                return True
            if snap.parent_snapshot_id is None:
                # walked to the ROOT without meeting the tx's base: a
                # concurrent rollback/history rewrite moved the branch
                # off our lineage entirely — the base's files may no
                # longer exist, so fail CONSERVATIVELY like the
                # expired-ancestry path instead of vacuously passing
                # (review r11: the break returned False = "validated")
                return True
            try:
                snap = md.snapshot_by_id(snap.parent_snapshot_id)
            except KeyError:
                return True  # ancestry expired under us — can't validate
            seen += 1
            if seen > 10_000:  # defensive bound on pathological chains
                return True
        return False

    def _ref_head(self, md) -> Snapshot | None:
        """Head snapshot of this tx's target ref (main or a branch)."""
        from .types.metadata import MAIN_BRANCH

        if self.branch == MAIN_BRANCH:
            return md.current_snapshot()
        ref = md.refs.get(self.branch)
        if ref is None:
            # new branch forks from main's head (matching _commit_once)
            return md.current_snapshot()
        return md.snapshot_by_id(ref.snapshot_id)

    def _table_name(self) -> str:
        ident = getattr(self.table, "identifier", None)
        return str(ident) if ident else basename(self.table.path)

    def _classify(self) -> str:
        has_adds = bool(self._added_data or self._added_deletes)
        has_removes = self._remove_all or bool(self._removed_paths)
        if has_adds and has_removes:
            return "overwrite"
        if has_removes:
            return "delete"
        if self._removed_delete_paths and not self._added_data:
            # delete-FILE removal without data-file adds is a metadata
            # rewrite (delete compaction), not an append — Iceberg
            # labels these 'replace' (code-review r8). A tx that ALSO
            # adds data files must stay 'append': replace snapshots are
            # excluded from incremental streams and the changelog, so
            # labeling it 'replace' would silently hide the appended
            # rows from every stream consumer (ADVICE r8).
            return "replace"
        return "append"

    def _summary(self, operation: str, parent: Snapshot | None,
                 removed_count: int, removed_rows: int, removed_size: int,
                 rm_del_files: int = 0, rm_pos_rows: int = 0,
                 rm_eq_rows: int = 0) -> dict[str, str]:
        prev = parent.summary if parent else {}

        def prev_i(key: str) -> int:
            try:
                return int(prev.get(key, 0))
            except (TypeError, ValueError):
                return 0

        add_data = self._added_data
        add_pos = [f for f in self._added_deletes if f.content == CONTENT_POSITION_DELETES]
        add_eq = [f for f in self._added_deletes if f.content == CONTENT_EQUALITY_DELETES]
        added_records = sum(f.record_count for f in add_data)
        added_size = sum(f.file_size_in_bytes for f in add_data) + sum(
            f.file_size_in_bytes for f in self._added_deletes)
        s = {
            "operation": operation,
            "added-data-files": str(len(add_data)),
            "added-records": str(added_records),
            "added-files-size": str(added_size),
            "total-data-files": str(prev_i("total-data-files") + len(add_data) - removed_count),
            "total-records": str(prev_i("total-records") + added_records - removed_rows),
            "total-files-size": str(prev_i("total-files-size") + added_size - removed_size),
            # remove_all_existing (replace/overwrite-all) drops every
            # delete manifest, so totals restart from the added deletes
            # — inheriting the parent's counts would claim delete files
            # the new manifest list no longer contains
            # removed delete FILES (delete compaction) subtract from
            # the running totals, or every compaction inflates them
            # with ghost counts forever (code-review r8)
            "total-delete-files": str(
                (0 if self._remove_all else prev_i("total-delete-files"))
                + len(self._added_deletes) - rm_del_files),
            "total-position-deletes": str(
                (0 if self._remove_all else prev_i("total-position-deletes"))
                + sum(f.record_count for f in add_pos) - rm_pos_rows),
            "total-equality-deletes": str(
                (0 if self._remove_all else prev_i("total-equality-deletes"))
                + sum(f.record_count for f in add_eq) - rm_eq_rows),
        }
        if self._added_deletes:
            s["added-delete-files"] = str(len(self._added_deletes))
            s["added-position-deletes"] = str(sum(f.record_count for f in add_pos))
            s["added-equality-deletes"] = str(sum(f.record_count for f in add_eq))
        if removed_count:
            s["deleted-data-files"] = str(removed_count)
            s["deleted-records"] = str(removed_rows)
            s["removed-files-size"] = str(removed_size)
        s.update(self._summary_extras)
        return s
