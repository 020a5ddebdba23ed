"""Scan planning kernels — shared between driver-side and distributed
(Spark-job) planning.

SURVEY §7 risk 8: at 100 TB a snapshot can reference tens of thousands
of manifest Avro files. Decoding them all on the driver serializes
planning and bounds table size by driver memory. This module provides:

- manifest-level pruning from manifest-list FieldSummaries (skip whole
  manifests without opening them);
- file-level partition + zone-map pruning, usable on either the driver
  or an executor. Both evaluate the scan's one pruning expression
  (pruning.py);
- `plan_distributed`: planning as a Spark job — manifest paths are
  parallelized, executors decode their manifests with the pure-Python
  Avro reader and prune locally, and only SURVIVING tasks are pickled
  back to the driver. The driver's state is O(#surviving files), never
  O(#manifest bytes).

On a real cluster the package ships to executors via --py-files /
spark.submit.pyFiles; in local mode workers import it from the repo.
"""

from __future__ import annotations

import os
import pickle
from dataclasses import dataclass
from typing import Any

from . import pruning
from .types import (
    CONTENT_DATA,
    CONTENT_EQUALITY_DELETES,
    CONTENT_POSITION_DELETES,
    Schema,
)
from .types.manifest import (
    MANIFEST_CONTENT_DATA,
    ManifestListEntry,
    read_manifest,
)
from .types.metadata import TableMetadata

# Above this manifest count, planning becomes a Spark job when a session
# is available (overridable via table property
# read.plan.distributed-threshold). Measured on local NVMe: thread-pooled
# serial planning decodes ~250 manifests/s/thread, so the Spark job's
# ~1.5 s fixed overhead only pays for itself in the multi-hundred range —
# and below it driver memory is not a concern anyway.
DISTRIBUTED_PLANNING_THRESHOLD = 512


def _strip_file_scheme(p: str) -> str:
    """'file:'-scheme → plain absolute path (file:///x, file:/x, and
    file://x all resolve to /x). SHARED by resolve_path and
    canon_data_path — both sides of every delete match flow through this
    normalization, so a single implementation is the correctness
    contract (the Spark twin canon_data_path_col mirrors it as regexps).
    """
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
        if not p.startswith("/"):
            p = "/" + p
    return p


def resolve_path(table_path: str, path: str) -> str:
    """Map a metadata-recorded absolute path into the table's dir
    (pure twin of IcebergTable._resolve, safe to run on executors).

    URI table paths (s3://...): a recorded path already under the table
    root passes through with no existence probe (the hot path — one
    HTTP round trip per file would dominate planning). A foreign path
    on the SAME scheme+authority is overwhelmingly a relocated table's
    old spelling — re-root by the data/metadata marker. A path on a
    DIFFERENT store is an add_files import and stays AS RECORDED:
    re-rooting it would silently read a colliding same-named file
    under this table (or fail confusingly), and probing an arbitrary
    remote store from the planner can hang on retry loops. A table
    relocated ACROSS stores must rewrite its metadata paths (the
    standard Iceberg register-table procedure) — a stale cross-store
    path fails loudly at read time.
    """
    from .fileio import io_join, is_uri, path_scheme

    if is_uri(table_path):
        base = table_path.rstrip("/")
        if path == base or path.startswith(base + "/"):
            return path
        p = _strip_file_scheme(path) if not is_uri(path) else path

        def _store(u: str) -> tuple[str, str]:
            sch = path_scheme(u)
            return sch, (u[len(sch) + 3:].split("/", 1)[0] if sch else "")

        if is_uri(p) and _store(p) != _store(base):
            return p  # add_files import on another store: as recorded
        for marker in ("/data/", "/metadata/"):
            i = p.rfind(marker)
            if i >= 0:
                return io_join(table_path, p[i + 1:])
        return path
    p = _strip_file_scheme(path)
    if os.path.exists(p):
        return p
    for marker in ("/data/", "/metadata/"):
        i = p.rfind(marker)
        if i >= 0:
            candidate = os.path.join(table_path, p[i + 1:])
            if os.path.exists(candidate):
                return candidate
    return p


# ----------------------------------------------------------------- pruning


def prune_manifests(mles: list[ManifestListEntry], metadata: TableMetadata,
                    expr) -> list[ManifestListEntry]:
    """Drop data manifests whose FieldSummaries prove that no file can
    match the scan's pruning expression (pruning.py), without opening
    them. Delete manifests and manifests lacking summaries are kept."""
    by_spec = pruning.for_specs(expr, metadata)
    return [m for m in mles
            if m.content != MANIFEST_CONTENT_DATA or not m.partitions
            or pruning.summary_might_match(by_spec.get(m.partition_spec_id),
                                           m.partitions)]


# ---------------------------------------------------------------- assembly


def assemble_manifest(table_path: str, metadata: TableMetadata,
                      mle: ManifestListEntry, entries, expr,
                      ) -> list[tuple[int, Any, int, int]]:
    """(manifest entries) → pruned [(content, DataFile, seq, spec_id)]:
    data files are kept when the scan's pruning expression might match
    their partition tuple and their column metrics.

    Shared by the serial and distributed planners so both produce
    byte-identical plans. `entries` come from `read_manifest(path,
    mle)`, so their sequence numbers are already inherited."""
    schema = metadata.current_schema()
    part_expr = pruning.for_specs(expr, metadata).get(mle.partition_spec_id)
    out = []
    for e in entries:
        if not e.is_alive:
            continue
        df = e.data_file
        df.file_path = resolve_path(table_path, df.file_path)
        if df.content == CONTENT_DATA and not (
                pruning.partition_might_match(part_expr, df.partition or {})
                and pruning.metrics_might_match(expr, df, schema)):
            continue
        out.append((df.content, df, e.sequence_number, mle.partition_spec_id))
    return out


def plan_distributed(spark, table_path: str, metadata: TableMetadata,
                     mles: list[ManifestListEntry],
                     expr=None) -> list[tuple[int, Any, int, int]]:
    """Planning as a Spark job: the list-returning face of
    `plan_files_df`. The plan DataFrame is STREAMED to the driver
    (toLocalIterator, one Arrow partition in memory at a time) instead
    of collect()ed, so peak driver memory is the final task list alone,
    not list + pickled blob buffers. Result order is deterministic
    (manifest-list position, then entry order)."""
    pdf = plan_files_df(spark, table_path, metadata, mles, expr)
    return [(r.content, pickle.loads(bytes(r.task)), r.seq, r.spec_id)
            for r in pdf.orderBy("mi", "fi").toLocalIterator()]


PLAN_DF_SCHEMA = ("mi int, fi int, content int, file_path string, seq long, "
                  "spec_id int, record_count long, file_size long, "
                  "file_format string, partition string, task binary")


def canon_data_path(p: str) -> str:
    """Location-independent canonical form of a data-file path: the part
    after the LAST '/data/' segment (falling back to the normalized
    absolute path when no data/ dir is present, e.g. add_files imports).

    Position/equality-delete file CONTENT records the writer-era
    absolute `file_path`; a relocated table (golden fixtures, restored
    backups) resolves its PLANNED paths to the new root, so comparing
    raw absolute paths silently stops applying deletes. Both sides of
    every delete match must go through this form (Spark twin:
    `canon_data_path_col`). The fallback normalizes the cloud scheme
    to the JVM connector spelling (s3 -> s3a, the to_spark_paths map;
    review r12): an add_files-imported s3:// path with no /data/
    segment kept its python-side spelling while Spark's
    _metadata.file_path reads s3a:// — the seq map and every delete
    join silently missed those files."""
    p = _strip_file_scheme(p)
    i = p.rfind("/data/")
    if i >= 0:
        return p[i + len("/data/"):]
    if p.startswith("s3://"):
        return "s3a://" + p[len("s3://"):]
    return p


def canon_data_path_col(c):
    """Spark Column twin of canon_data_path (greedy ^.*/data/ strips
    through the LAST /data/; no-op when absent; same s3 -> s3a scheme
    normalization on the no-/data/ fallback)."""
    from pyspark.sql import functions as F

    normalized = F.regexp_replace(c, r"^file:/*", "/")
    normalized = F.regexp_replace(normalized, r"^s3://", "s3a://")
    return F.regexp_replace(normalized, r"^.*/data/", "")


def scoped_partition_key(partition: dict | None) -> str | None:
    """The eq-delete scoping key: None when the delete file is GLOBAL.
    An empty partition tuple is global by the spec; an ALL-None tuple
    is treated global too because this repo's own global deletes
    round-trip through the partitioned manifest Avro schema as
    all-None (the record type has the spec's fields, so {} reads back
    as {field: None} — review r12 follow-up: the first scoping cut
    read those as "scoped to the NULL partition" and silently stopped
    applying every upsert's deletes on partitioned tables). Caveat,
    documented: an external delete file genuinely scoped to an
    all-NULL partition tuple is applied globally — indistinguishable
    at the manifest level here, and global application errs toward
    the pre-scoping behavior."""
    if not partition or all(v is None for v in partition.values()):
        return None
    return canonical_partition(partition)


def canonical_partition(partition: dict | None) -> str:
    """Stable string form of a partition tuple (sorted by field name) —
    groupable/joinable in the plan DataFrame without a struct schema
    that varies per spec."""
    return str(sorted((partition or {}).items()))


# ----------------------------------------------------- merge-on-read plan


DELETE_BROADCAST_PROP = "read.delete.broadcast-threshold-bytes"
DELETE_BROADCAST_DEFAULT = 32 * 1024 * 1024


def pos_delete_applies(data_seq, delete_seq):
    """Sequence gate of a position delete (J4): it covers data files at
    or below its own sequence number. Operates on ints and on Spark
    Columns alike, so every read path shares this one rule."""
    return data_seq <= delete_seq


def eq_delete_applies(data_seq, delete_seq):
    """Sequence gate of an equality delete (J3): strictly OLDER data
    only — rows the same commit (re)inserts survive it."""
    return data_seq < delete_seq


@dataclass
class EqDeleteGroup:
    """Equality-delete files sharing one key set and one partition
    scope: every read path applies ONE join per group, not one per file
    (a table with N upsert commits would otherwise chain N joins)."""
    key_cols: tuple[str, ...]  # names in the read schema
    tasks: list                # DeleteFileTask
    # canon paths of the data files a partition-scoped group applies
    # to; None for a global group
    data_files: frozenset[str] | None
    broadcast: bool


@dataclass
class DeletePlan:
    """The merge-on-read delete plan of one scan, computed once from its
    planned (data, pos, eq) tasks and read schema. Consumers: the Spark
    join builder (TableScan._apply_deletes — reads, DML, changelog) and
    the Python DataSource, which ships each task its own deletes."""
    data_seq: list[tuple[str, int]]  # (canon data path, data seq)
    pos: list                        # DeleteFileTask
    pos_broadcast: bool
    eq_groups: list[EqDeleteGroup]

    def deletes_for(self, task) -> tuple[list, list]:
        """(pos tasks, [(group, eq tasks)]) that apply to one data task,
        sequence-gated and partition-scoped."""
        seq = task.sequence_number
        canon = canon_data_path(task.data_file.file_path)
        pos = [p for p in self.pos
               if pos_delete_applies(seq, p.sequence_number)]
        eq = []
        for g in self.eq_groups:
            if g.data_files is not None and canon not in g.data_files:
                continue
            ts = [t for t in g.tasks
                  if eq_delete_applies(seq, t.sequence_number)]
            if ts:
                eq.append((g, ts))
        return pos, eq


def plan_deletes(data, pos, eq, schema: Schema,
                 metadata: TableMetadata) -> DeletePlan:
    """Build the DeletePlan of a scan.

    - Each delete side is broadcast only while its planned
      file_size_in_bytes total stays under
      `read.delete.broadcast-threshold-bytes` (default 32 MiB): a bulk
      delete_where or a large upsert batch produces delete sets beyond
      broadcast limits, where a shuffle join is the correct plan.
    - Equality deletes group by (equality_ids, partition scope). Key
      names resolve against the schema the rows are READ with: a
      time-travel scan across a rename still names the key by its old
      name (review r11).
    - A partitioned equality-delete file applies only to data files of
      its own partition (review r12); a scoped group with no such data
      file drops out.
    - A live equality-delete file keyed on a since-DROPPED column cannot
      be applied; silently skipping it would resurrect every row it
      tombstoned (code-review r8), so planning fails loudly, naming
      each dropped column by its last name in the schema history."""
    properties = metadata.properties
    limit = int(properties.get(DELETE_BROADCAST_PROP,
                               DELETE_BROADCAST_DEFAULT))

    def small(tasks) -> bool:
        return sum(t.delete_file.file_size_in_bytes or 0
                   for t in tasks) <= limit

    by_key: dict[tuple, list] = {}
    for t in eq:
        gk = (tuple(t.delete_file.equality_ids or ()),
              scoped_partition_key(t.delete_file.partition))
        by_key.setdefault(gk, []).append(t)
    groups = []
    for (eq_ids, part_key), tasks in by_key.items():
        if not eq_ids:
            continue
        names = [schema.name_by_id(fid) for fid in eq_ids]
        missing = [fid for fid, c in zip(eq_ids, names) if c is None]
        if missing:
            last = {fid: n for s in metadata.schemas for fid in missing
                    if (n := s.name_by_id(fid)) is not None}
            dropped = ", ".join(repr(last.get(fid, "?")) for fid in missing)
            raise ValueError(
                f"equality-delete files key on dropped column ids "
                f"{missing} ({dropped}); rewrite deletes (rewrite_position_"
                f"deletes / compaction) before dropping key columns")
        scoped = None
        if part_key is not None:
            scoped = frozenset(
                canon_data_path(d.data_file.file_path) for d in data
                if canonical_partition(d.data_file.partition or None)
                == part_key)
            if not scoped:
                continue
        groups.append(EqDeleteGroup(tuple(names), tasks, scoped,
                                    small(tasks)))
    return DeletePlan(
        [(canon_data_path(d.data_file.file_path), d.sequence_number)
         for d in data],
        list(pos), small(pos), groups)


def _distributed_manifest_df(spark, mles: list[ManifestListEntry],
                             ctx_obj: tuple, schema: str, build):
    """Shared executor-side scaffolding for the manifest-walking
    DataFrame producers (plan_files_df / manifest_entries_df — review
    r11: the two previously duplicated this verbatim, so a fix to the
    partitioning or pickle protocol had to be remembered twice): each
    manifest-list entry ships as one pickled task row, fans out to
    <=256 partitions, and mapInPandas reads + transforms each manifest
    executor-side. `ctx_obj` is any picklable tuple whose FIRST
    element is the table path; `build(ctx_obj, mi, mle, entries,
    cols)` appends one manifest's rows to the per-batch column lists
    (keys = the schema's field names). Nothing is ever collected to
    the driver."""
    import pandas as pd

    blobs = [(i, pickle.dumps(mle)) for i, mle in enumerate(mles)]
    if not blobs:
        return spark.createDataFrame([], schema)
    ctx = pickle.dumps(ctx_obj)
    names = [part.strip().split()[0] for part in schema.split(",")]

    def run(batches):
        c = pickle.loads(ctx)
        tpath = c[0]
        for pdf in batches:
            cols: dict[str, list] = {k: [] for k in names}
            for i, blob in zip(pdf["i"], pdf["task"]):
                mle = pickle.loads(bytes(blob))
                _, entries = read_manifest(
                    resolve_path(tpath, mle.manifest_path), mle)
                build(c, int(i), mle, entries, cols)
            yield pd.DataFrame(cols)

    n_parts = max(1, min(len(blobs), 256))
    src = spark.createDataFrame(blobs, "i int, task binary") \
        .repartition(n_parts)
    return src.mapInPandas(run, schema=schema)


def plan_files_df(spark, table_path: str, metadata: TableMetadata,
                  mles: list[ManifestListEntry], expr=None):
    """Planning that RETURNS A DATAFRAME — the lifted form of SURVEY §7
    risk 8 (the reference plans purely driver-side, table.rs:281-304):
    one row per surviving file with light columns (content, file_path,
    seq, spec_id, record_count, file_size) plus the pickled DataFile
    for consumers that need stats/bounds. Nothing is collected here, so
    a million-file table's plan lives on executors; downstream can
    aggregate (compaction sizing, snapshot stats), filter, or stream it
    with toLocalIterator — the driver never holds every DataFile at
    once. `mi` is the manifest-list position for deterministic ordering.
    """
    def build(c, mi, mle, entries, cols):
        tpath, meta, ex = c
        for fi, (content, dfile, seq, spec_id) in enumerate(
                assemble_manifest(tpath, meta, mle, entries, ex)):
            cols["mi"].append(mi)
            cols["fi"].append(fi)
            cols["content"].append(int(content))
            cols["file_path"].append(dfile.file_path)
            cols["seq"].append(int(seq))
            cols["spec_id"].append(int(spec_id))
            cols["record_count"].append(int(dfile.record_count or 0))
            cols["file_size"].append(int(dfile.file_size_in_bytes or 0))
            cols["file_format"].append(dfile.file_format or "PARQUET")
            cols["partition"].append(canonical_partition(dfile.partition))
            cols["task"].append(pickle.dumps(dfile))

    return _distributed_manifest_df(
        spark, mles, (table_path, metadata, expr),
        PLAN_DF_SCHEMA, build)


def plan_serial(table_path: str, metadata: TableMetadata,
                mles: list[ManifestListEntry],
                expr=None) -> list[tuple[int, Any, int, int]]:
    """Driver-side twin of plan_distributed (thread-pooled I/O)."""
    if len(mles) > 4:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(mles))) as pool:
            parsed = list(pool.map(
                lambda m: read_manifest(
                    resolve_path(table_path, m.manifest_path), m),
                mles))
    else:
        parsed = [read_manifest(resolve_path(table_path, m.manifest_path), m)
                  for m in mles]
    tasks: list[tuple[int, Any, int, int]] = []
    for mle, (_, entries) in zip(mles, parsed):
        tasks.extend(assemble_manifest(table_path, metadata, mle, entries,
                                       expr))
    return tasks


def split_tasks(tasks, file_scan_task, delete_file_task):
    """[(content, df, seq, spec_id)] → (data, pos_deletes, eq_deletes).

    Also accepts a `plan_files_df` DataFrame: rows stream in through
    toLocalIterator (bounded driver memory) in deterministic order.
    """
    if hasattr(tasks, "toLocalIterator"):  # a plan_files_df DataFrame
        tasks = ((r.content, pickle.loads(bytes(r.task)), r.seq, r.spec_id)
                 for r in tasks.orderBy("mi", "fi").toLocalIterator())
    data, pos, eq = [], [], []
    for content, df, seq, spec_id in tasks:
        if content == CONTENT_DATA:
            data.append(file_scan_task(df, seq, spec_id))
        elif content == CONTENT_POSITION_DELETES:
            pos.append(delete_file_task(df, seq))
        elif content == CONTENT_EQUALITY_DELETES:
            eq.append(delete_file_task(df, seq))
    return data, pos, eq


ENTRIES_DF_SCHEMA = ("mi int, fi int, status int, snapshot_id long, "
                     "sequence_number long, file_sequence_number long, "
                     "content int, file_path string, file_format string, "
                     "record_count long, file_size_in_bytes long, "
                     "partition string")


def manifest_entries_df(spark, table_path: str,
                        mles: list[ManifestListEntry]):
    """`entries` metadata table as a distributed Spark job: one row per
    manifest entry INCLUDING status=deleted tombstones (which
    plan_files_df deliberately drops), with inherited snapshot ids and
    sequence numbers materialized. Same executor-side shape as
    plan_files_df (shared _distributed_manifest_df scaffolding) — at a
    million entries nothing is collected to the driver (parity surface:
    Iceberg's `SELECT * FROM t.entries`; the reference walks the same
    entries driver-side in table.rs:281-304)."""
    def build(c, mi, mle, entries, cols):
        for fi, e in enumerate(entries):
            d = e.data_file
            cols["mi"].append(mi)
            cols["fi"].append(fi)
            cols["status"].append(int(e.status))
            cols["snapshot_id"].append(int(e.snapshot_id))
            cols["sequence_number"].append(int(e.sequence_number))
            cols["file_sequence_number"].append(int(e.file_sequence_number))
            cols["content"].append(int(mle.content))
            cols["file_path"].append(d.file_path)
            cols["file_format"].append(d.file_format or "PARQUET")
            cols["record_count"].append(int(d.record_count or 0))
            cols["file_size_in_bytes"].append(
                int(d.file_size_in_bytes or 0))
            cols["partition"].append(canonical_partition(d.partition))

    return _distributed_manifest_df(spark, mles, (table_path,),
                                    ENTRIES_DF_SCHEMA, build)
