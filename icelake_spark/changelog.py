"""Changelog (CDC) read: the row-level changes between two snapshots.

The reference writes CDC (its delta writers emit data + delete files,
`icelake/src/io/functional_writer/equality_delta_writer.rs`) but has
no read-side changelog; engines are expected to reconstruct
changes from the files each snapshot added/removed. This module is that
read side. It has one decoder, the DataSource's changelog mode
(datasource.py): `_plan_changelog_tasks` walks the window's ancestry
chain once on the driver, from the window's base snapshot, reading
each manifest at most once, and each snapshot becomes one task that an
executor decodes with the batch reader's Arrow dead-row mask
(`_TableFileReader._changes`). `changes()` plans from the table
object's own metadata and decodes with that reader;
`spark.read.format("icelake").option("changelog", "true")` reads the
same events, and `spark.readStream` with that option streams them.

Semantics (matching Iceberg's changelog-table behavior):
- append snapshot        → its added data files' rows as `insert`
  (rows deleted in the SAME commit — in-batch upsert churn — are
  excluded: they were never visible to any reader)
- MoR delete / upsert    → rows of older data files that the snapshot's
  added position/equality deletes kill, and no earlier delete did, as
  `delete` (sequence-gated exactly like the read path); upsert commits
  also emit their added files as `insert`
- CoW delete / overwrite → each data file the snapshot drops: its rows
  that earlier deletes left alive as `delete`; added files' rows as
  `insert` (net-change, like Iceberg)
- replace (compaction / manifest rewrite) → no logical change, skipped
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datasource import (CHANGE_TYPE, COMMIT_ORDER,  # noqa: F401
                         COMMIT_SNAPSHOT, _plan_changelog_tasks,
                         _source_schema, _TableFileReader)
from .table import DeleteFileTask, FileScanTask, IcebergTable
from .types.manifest import (MANIFEST_CONTENT_DELETES, STATUS_ADDED,
                             read_manifest, read_manifest_list)


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


def snapshot_window(table: IcebergTable, from_snapshot_id: int | None = None,
                    to_snapshot_id: int | None = None) -> tuple[list, set]:
    """(chain, window) of the changelog window (from, to]: the ancestry
    chain of `to_snapshot_id` (default: the current head), oldest
    first, starting at `from_snapshot_id` (None: at the oldest retained
    snapshot), and the ids of its snapshots after `from_snapshot_id`
    (None: all of them). The planner seeds its state from the chain's
    first snapshot, so the snapshots before the window are never read.

    The window is the head's ANCESTRY CHAIN, not a sequence-number
    range: every v1 snapshot carries sequence 0, and branch-staged WAP
    commits share the global counter. Rolled-back commits and other
    branches' snapshots live in metadata.snapshots but not in this
    lineage — emitting them would replicate phantom rows."""
    chain = table.metadata.ancestors(to_snapshot_id)[::-1]
    ids = [s.snapshot_id for s in chain]
    if from_snapshot_id is None:
        return chain, set(ids)
    if from_snapshot_id not in ids:
        # expired or on another branch: excluding its ancestry would
        # exclude nothing and silently REPLAY the full retained history
        # as if new — duplicate downstream effects for every incremental
        # consumer (Iceberg's changelog read errors here too).
        # apply_changes guards its sync point before calling and
        # full-resyncs instead.
        head = ids[-1] if ids else to_snapshot_id
        raise ValueError(
            f"from_snapshot_id {from_snapshot_id} is not an ancestor "
            f"of the changelog head {head} (expired or on another "
            f"branch); the incremental window is unreconstructable")
    start = ids.index(from_snapshot_id)
    return chain[start:], set(ids[start + 1:])


def changes(table: IcebergTable, spark: SparkSession,
            from_snapshot_id: int | None = None,
            to_snapshot_id: int | None = None) -> DataFrame:
    """DataFrame of row-level changes in (from_snapshot, to_snapshot]:
    table columns + _change_type ('insert'/'delete') +
    _commit_snapshot_id + _commit_order (the commit's rank in the
    window). from_snapshot_id=None starts before the first retained
    snapshot; to_snapshot_id=None is this table object's current head.

    Planned here, on the driver, from this table object's metadata (a
    catalog-managed table has no metadata files to load by path), by
    the DataSource's changelog planner; one Spark task per snapshot
    decodes its events with the DataSource's reader."""
    options = {"changelog": "true"}
    schema = _source_schema(table, options)
    reader = _TableFileReader()
    reader._bind(table, options, schema)
    tasks = _plan_changelog_tasks(
        table, *snapshot_window(table, from_snapshot_id, to_snapshot_id),
        reader._src)

    def decode(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                yield from reader.read(tasks[i])

    return spark.range(0, len(tasks), 1, max(len(tasks), 1)).mapInArrow(
        decode, schema)


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
    chain = source.metadata.ancestors(current.snapshot_id)
    # ancestry of the head, NOT just membership in metadata.snapshots:
    # after a source ROLLBACK the recorded sync point still exists in
    # metadata but is no longer an ancestor — changes() now rejects it
    # (review r12), and the right recovery is the same full resync as
    # the expired case
    on_ancestry = last is not None and last in {s.snapshot_id
                                                for s in chain}
    # first sync against a source whose retained history is TRUNCATED
    # (the oldest retained snapshot has an expired parent): changes()
    # can only replay the retained chain's adds, so live rows written
    # by expired snapshots would be missing from the replica FOREVER
    # (review r12) — detectable, so full-resync instead
    truncated_first = last is None and chain[-1].parent_snapshot_id \
        is not None
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
    plan and then letting merge_delta re-evaluate it decoded the whole
    changelog twice per sync (code-review r9)."""
    from .delta import merge_delta

    batch = batch.persist()
    try:
        n = batch.count()
        if n:
            merge_delta(target, batch, key_cols=key_cols, op_col="_op")
    finally:
        batch.unpersist()
    return n
