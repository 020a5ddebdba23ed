"""Changelog (CDC) read: the row-level changes between two snapshots.

The reference writes CDC (its delta writers emit data + delete files,
`/root/reference/icelake/src/io/functional_writer/equality_delta_writer.rs`)
but has no read-side changelog; engines are expected to reconstruct
changes from the files each snapshot added/removed. This module is that
read side, Spark-first: every per-snapshot diff is one or two
broadcast-joined DataFrame reads, unioned lazily — nothing is
materialized on the driver except file lists.

Semantics (matching Iceberg's changelog-table behavior):
- append snapshot        → its added data files' rows as `insert`
  (rows pos-deleted in the SAME commit — in-batch upsert churn — are
  excluded: they were never visible to any reader)
- MoR delete / upsert    → added pos/eq delete files select the deleted
  rows out of the PRE-snapshot data (semi-join, sequence-gated exactly
  like the anti-join on the normal read path); upsert commits also emit
  their added files as `insert`
- CoW delete / overwrite → removed files' surviving rows as `delete`,
  added files' rows as `insert` (net-change, like Iceberg)
- replace (compaction / manifest rewrite) → no logical change, skipped
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .planning import canon_data_path, canon_data_path_col
from .table import (DeleteFileTask, FileScanTask, IcebergTable, TableScan,
                    read_position_deletes)
from .types.manifest import (MANIFEST_CONTENT_DELETES, STATUS_ADDED,
                             read_manifest, read_manifest_list)

CHANGE_TYPE = "_change_type"
COMMIT_SNAPSHOT = "_commit_snapshot_id"
COMMIT_ORDER = "_commit_order"


def _added_in(table: IcebergTable, snap):
    """(data_tasks, pos_tasks, eq_tasks) newly added by this snapshot."""
    data, pos, eq = [], [], []
    for mle in read_manifest_list(table._resolve(snap.manifest_list)):
        if mle.added_snapshot_id != snap.snapshot_id:
            continue
        _, entries = read_manifest(table._resolve(mle.manifest_path), mle)
        for e in entries:
            if e.status != STATUS_ADDED:
                continue
            df, seq = e.data_file, e.sequence_number
            df.file_path = table._resolve(df.file_path)
            if mle.content == MANIFEST_CONTENT_DELETES or df.content != 0:
                (pos if df.content == 1 else eq).append(
                    DeleteFileTask(df, seq))
            else:
                data.append(FileScanTask(df, seq, mle.partition_spec_id))
    return data, pos, eq


def _with_meta(df: DataFrame, change: str, snap, order: int,
               cols: list[str]) -> DataFrame:
    # snapshot id lit MUST cast long: this repo's sequential ids fit
    # int, so the schema would flip int/bigint between empty and
    # non-empty results (and vs external 64-bit ids) — review r12
    return df.select(*cols,
                     F.lit(change).alias(CHANGE_TYPE),
                     F.lit(snap.snapshot_id).cast("long")
                     .alias(COMMIT_SNAPSHOT),
                     F.lit(order).alias(COMMIT_ORDER))


def changes(table: IcebergTable, spark: SparkSession,
            from_snapshot_id: int | None = None,
            to_snapshot_id: int | None = None) -> DataFrame:
    """DataFrame of row-level changes in (from_snapshot, to_snapshot]:
    table columns + _change_type ('insert'/'delete') +
    _commit_snapshot_id + _commit_order (per-changelog commit index).
    from_snapshot_id=None starts before the first snapshot."""
    meta = table.metadata
    schema = table.schema()
    spark_schema = schema.to_spark()
    cols = [f.name for f in spark_schema.fields]
    reader = TableScan(table)
    empty = spark.createDataFrame([], spark_schema) \
        .select("*", F.lit("x").alias(CHANGE_TYPE),
                F.lit(0).cast("long").alias(COMMIT_SNAPSHOT),
                F.lit(0).cast("int").alias(COMMIT_ORDER)).limit(0)

    current = table.current_snapshot()
    head_id = to_snapshot_id if to_snapshot_id is not None else (
        current.snapshot_id if current is not None else None)
    if head_id is None:
        # snapshots exist but none is published to the requested head
        # (e.g. only WAP branch commits): no visible changes
        return empty
    known_ids = {s.snapshot_id for s in meta.snapshots}
    # the (from, to] window is the head's ANCESTRY CHAIN minus the
    # from-snapshot's ancestry — NOT a sequence-number range: every v1
    # snapshot carries sequence 0 (an incremental seq window returns
    # empty forever on v1), and branch-staged WAP commits share the
    # global counter. Rolled-back commits and other branches' snapshots
    # live in metadata.snapshots but not in this lineage — emitting them
    # would replicate phantom rows (see ancestry_ids docstring).
    chain: list = []
    sid = head_id
    while sid is not None and sid in known_ids:
        s = meta.snapshot_by_id(sid)
        chain.append(s)
        sid = s.parent_snapshot_id
    chain.reverse()  # oldest -> newest, deterministic commit order
    if from_snapshot_id is not None \
            and from_snapshot_id not in {s.snapshot_id for s in chain}:
        # expired or on another branch: ancestry_ids(from) would be
        # empty/disjoint, exclude nothing, and silently REPLAY the
        # full retained history as if new — duplicate downstream
        # effects for every incremental consumer (review r12; Iceberg's
        # changelog read errors here too). apply_changes guards its
        # sync point before calling and full-resyncs instead.
        raise ValueError(
            f"from_snapshot_id {from_snapshot_id} is not an ancestor "
            f"of the changelog head {head_id} (expired or on another "
            f"branch); the incremental window is unreconstructable")
    exclude = (meta.ancestry_ids(from_snapshot_id)
               if from_snapshot_id is not None else set())

    parts: list[DataFrame] = []
    order = 0
    for snap in chain:
        if snap.snapshot_id in exclude:
            continue
        op = (snap.summary or {}).get("operation", "append")
        if op == "replace":
            continue
        added_data, added_pos, added_eq = _added_in(table, snap)
        # an expired parent (oldest surviving snapshot) can't be scanned:
        # its deletes/CoW removals are unreconstructable — emit this
        # snapshot's adds only (the retained-history boundary)
        parent_scan = (TableScan(table, snapshot_id=snap.parent_snapshot_id)
                       if snap.parent_snapshot_id is not None
                       and snap.parent_snapshot_id in known_ids else None)

        # inserts: added files, minus rows pos-deleted by the SAME commit
        if added_data:
            ins = reader.read_mapped(spark, schema, spark_schema, added_data,
                                     with_position=bool(added_pos))
            if added_pos:
                scan = TableScan(table, snapshot_id=snap.snapshot_id)
                ins = scan._apply_deletes(spark, ins, added_data,
                                          added_pos, [])
            parts.append(_with_meta(ins, "insert", snap, order, cols))

        # ONE parent manifest planning per snapshot, shared by the MoR
        # delete lanes and the CoW lane below (review r12: a commit
        # with both added delete files and a CoW-qualifying op planned
        # the identical parent scan twice — a full distributed
        # manifest walk each time)
        pdata = ppos = peq = None
        if parent_scan is not None and (
                added_pos or added_eq or op in ("delete", "overwrite")):
            pdata, ppos, peq = parent_scan.plan_files(spark)

        # deletes via added delete files: the SAME delete plan joins as
        # the read path, semi instead of anti, over pre-snapshot data.
        # Parent-era deletes are anti-joined out FIRST so a row deleted
        # by an earlier snapshot can never re-surface as a new delete.
        if added_pos and parent_scan is not None:
            # only the parent files the pos deletes name are read
            srcs = {r[0] for r in read_position_deletes(
                spark, [t.delete_file.file_path for t in added_pos])
                .select(canon_data_path_col(F.col("file_path")))
                .distinct().collect()}
            hit = [t for t in pdata
                   if canon_data_path(t.data_file.file_path) in srcs]
            if hit:
                d = parent_scan._apply_deletes(
                    spark, reader.read_mapped(spark, schema, spark_schema,
                                              hit, with_position=True),
                    hit, ppos, peq, drop_helpers=False)
                deleted = parent_scan._apply_deletes(
                    spark, d, hit, added_pos, [], how="left_semi")
                parts.append(_with_meta(deleted, "delete", snap, order, cols))
        if added_eq and pdata:  # empty parent: nothing to delete from
            # one commit may legally carry a pos delete AND an eq delete
            # covering the same physical row (external writers mix
            # them); the pos lane above already emitted those rows'
            # delete events, so the eq lane excludes them (review r11)
            d = parent_scan._apply_deletes(
                spark, reader.read_mapped(spark, schema, spark_schema,
                                          pdata, with_position=True),
                pdata, ppos + added_pos, peq, drop_helpers=False)
            deleted = parent_scan._apply_deletes(
                spark, d, pdata, [], added_eq, how="left_semi")
            parts.append(_with_meta(deleted, "delete", snap, order, cols))

        # CoW: files removed by this snapshot -> their surviving rows
        if parent_scan is not None and op in ("delete", "overwrite"):
            live_now = {t.data_file.file_path
                        for t in TableScan(table, snapshot_id=snap.snapshot_id)
                        .plan_files(spark)[0]}
            removed = [t for t in pdata
                       if t.data_file.file_path not in live_now]
            if removed:
                d = reader.read_mapped(spark, schema, spark_schema, removed,
                                       with_position=bool(ppos or peq))
                if ppos or peq:
                    d = parent_scan._apply_deletes(spark, d, removed, ppos, peq)
                parts.append(_with_meta(d, "delete", snap, order, cols))
        order += 1

    if not parts:
        return empty
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------------------------- CDC replication


SYNC_PROP_PREFIX = "cdc.synced-snapshot-id."


def apply_changes(source: IcebergTable, target: IcebergTable,
                  spark: SparkSession, key_cols: list[str],
                  sync_id: str = "default") -> int:
    """Incremental table-to-table CDC replication: read the source's
    changelog since the last sync point and apply it to the target as
    one merge-delta commit (inserts upsert by key, deletes remove by
    key). The sync point persists as a target table property, so the
    pipeline is restartable and each call ships only new commits.
    Returns the number of change rows applied.

    The batch MERGE semantics require changes ordered by commit:
    _commit_order breaks ties so a delete+reinsert of the same key in
    different commits lands in the right final state.
    """
    from .delta import OP_DELETE, OP_INSERT, merge_delta

    last_raw = target.metadata.properties.get(SYNC_PROP_PREFIX + sync_id)
    last = int(last_raw) if last_raw else None
    current = source.current_snapshot()
    if current is None or (last is not None
                           and current.snapshot_id == last):
        return 0
    cols = [f.name for f in source.schema().to_spark().fields]
    known = {s.snapshot_id for s in source.metadata.snapshots}
    # ancestry of the head, NOT just membership in metadata.snapshots:
    # after a source ROLLBACK the recorded sync point still exists in
    # metadata but is no longer an ancestor — changes() now rejects it
    # (review r12), and the right recovery is the same full resync as
    # the expired case
    on_ancestry = (last is not None
                   and last in source.metadata.ancestry_ids(
                       current.snapshot_id))
    # first sync against a source whose retained history is TRUNCATED
    # (the oldest retained snapshot has an expired parent): changes()
    # can only replay the retained chain's adds, so live rows written
    # by expired snapshots would be missing from the replica FOREVER
    # (review r12) — detectable, so full-resync instead
    truncated_first = False
    if last is None:
        sid, oldest = current.snapshot_id, None
        while sid is not None and sid in known:
            oldest = source.metadata.snapshot_by_id(sid)
            sid = oldest.parent_snapshot_id
        truncated_first = sid is not None  # parent exists but expired
    if (last is not None and not on_ancestry) or truncated_first:
        # the changelog window is gone (expired sync point, rollback)
        # or incomplete (truncated first sync). Full resync: upsert
        # every current source row, delete target keys that no longer
        # exist in the source (null-safe key comparison, same as the
        # rollup's vanished-row rule).
        src = source.to_df(spark)
        tgt = target.to_df(spark).alias("__t")
        src_k = src.select(*key_cols).alias("__s")
        cond = None
        for k in key_cols:
            term = F.col(f"__t.{k}").eqNullSafe(F.col(f"__s.{k}"))
            cond = term if cond is None else (cond & term)
        vanished = (tgt.join(src_k, on=cond, how="left_anti")
                    .select(*cols))
        batch = (src.select(*cols).withColumn("_op", F.lit(OP_INSERT))
                 .unionByName(vanished.withColumn("_op", F.lit(OP_DELETE))))
        n = _apply_batch(target, batch, key_cols)
        target.set_properties(
            {SYNC_PROP_PREFIX + sync_id: str(current.snapshot_id)})
        return n
    ch = changes(source, spark, from_snapshot_id=last)
    # within one commit the delete of a key precedes its re-insert
    # (upsert = delete old + insert new); order deletes first so the
    # batch's last-wins semantics land on the inserted row
    batch = (ch.orderBy(COMMIT_ORDER,
                        F.when(F.col(CHANGE_TYPE) == "delete", 0).otherwise(1))
             .select(*cols,
                     F.when(F.col(CHANGE_TYPE) == "insert", OP_INSERT)
                     .otherwise(OP_DELETE).alias("_op")))
    n = _apply_batch(target, batch, key_cols)
    target.set_properties(
        {SYNC_PROP_PREFIX + sync_id: str(current.snapshot_id)})
    return n


def _apply_batch(target, batch: DataFrame, key_cols: list[str]) -> int:
    """count + merge_delta over ONE materialization: counting the raw
    plan and then letting merge_delta re-evaluate it executed the whole
    multi-join changelog reconstruction twice per sync
    (code-review r9)."""
    from .delta import merge_delta

    batch = batch.persist()
    try:
        n = batch.count()
        if n:
            merge_delta(target, batch, key_cols=key_cols, op_col="_op")
    finally:
        batch.unpersist()
    return n
