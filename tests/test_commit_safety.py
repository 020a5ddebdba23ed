"""Regression tests for the round-3 write/commit review findings:
multi-spec survivor manifests, delete-vs-compaction retry validation,
empty-table upserts, append type coercion, summary byte accounting,
and string-bound truncation at the surrogate boundary."""

import os

import pytest
from pyspark.sql import functions as F

from icelake_spark.types import Schema


def _schema(spark, ddl):
    return Schema.from_spark(spark.createDataFrame([], ddl).schema)


def test_cow_rewrite_preserves_old_spec_partitions(spark, warehouse):
    """A copy-on-write delete on a spec-evolved table must rewrite the
    old-spec survivors with THEIR spec — flattening them into the new
    default spec drops partition values and breaks pruning."""
    from icelake_spark.types.manifest import (
        MANIFEST_CONTENT_DATA, read_manifest, read_manifest_list)

    src = spark.createDataFrame(
        [(i, i % 3, f"r{i}") for i in range(30)], "id long, g long, s string")
    t = warehouse.create_table("db.spec_evo", _schema(spark, "id long, g long, s string"),
                               format_version=1)  # v1 => CoW deletes
    # commit 1 under identity(g); then evolve to bucket and commit more
    t.update_spec("g")
    t.append(src.where("id < 15"))
    t.update_spec("bucket[4](g)")
    t.append(src.where("id >= 15"))

    from icelake_spark.delta import delete_rows

    delete_rows(t, spark, "id = 0 or id = 20")  # touches both spec eras
    t.refresh()

    # every surviving old-spec file keeps its identity partition value
    snap = t.current_snapshot()
    by_spec = {}
    for mle in read_manifest_list(t._resolve(snap.manifest_list)):
        if mle.content != MANIFEST_CONTENT_DATA:
            continue
        _, entries = read_manifest(t._resolve(mle.manifest_path))
        for e in entries:
            if e.is_alive:
                by_spec.setdefault(mle.partition_spec_id, []).append(
                    e.data_file.partition)
    specs_seen = set(by_spec)
    assert len(specs_seen) >= 2, f"expected multi-spec manifests, got {specs_seen}"
    for spec_id, parts in by_spec.items():
        spec = t.metadata.spec_by_id(spec_id)
        names = {pf.name for pf in spec.fields}
        for p in parts:
            assert set(p) == names, (spec_id, p)
    # and the data still reads correctly
    got = sorted(r.id for r in t.to_df(spark).collect())
    assert got == sorted(set(range(30)) - {0, 20})


def test_delete_retry_aborts_after_concurrent_compaction(spark, warehouse):
    """A delete-file commit that conflicts with a concurrent compaction
    must RAISE, not silently commit deletes referencing rewritten files
    (the rows would resurrect)."""
    from icelake_spark.catalog.storage import CommitConflict
    from icelake_spark.delta import write_position_delete_files
    from icelake_spark.maintenance import rewrite_data_files
    from icelake_spark.table import IcebergTable
    from icelake_spark.transaction import Transaction

    src = spark.createDataFrame([(i, i) for i in range(100)], "id long, v long")
    t1 = warehouse.create_table("db.race", _schema(spark, "id long, v long"))
    t1.append(src)

    # writer A prepares position deletes against the CURRENT files
    data, _, _ = t1.new_scan().plan_files()
    target = data[0].data_file.file_path
    pos_df = spark.createDataFrame([(os.path.abspath(target), 0)],
                                   "file_path string, pos long")
    del_files = write_position_delete_files(t1, pos_df)
    tx = Transaction(t1)
    tx.add_delete_files(del_files)

    # writer B compacts through an independent handle (bumps version)
    t2 = IcebergTable.load(t1.path)
    rewrite_data_files(t2, spark)

    with pytest.raises(CommitConflict):
        tx.commit("delete")


def test_append_retry_survives_concurrent_append(spark, warehouse):
    """The common path stays multi-writer-safe: plain appends retry
    through a concurrent append (no file removal involved)."""
    from icelake_spark.table import IcebergTable
    from icelake_spark.transaction import Transaction
    from icelake_spark.write import write_data_files

    src = spark.createDataFrame([(1, 1)], "id long, v long")
    t1 = warehouse.create_table("db.race2", _schema(spark, "id long, v long"))
    t1.append(src)

    files = write_data_files(t1, spark.createDataFrame([(2, 2)], "id long, v long"))
    tx = Transaction(t1)
    tx.add_data_files(files)
    IcebergTable.load(t1.path).append(
        spark.createDataFrame([(3, 3)], "id long, v long"))
    tx.commit("append")
    t1.refresh()
    assert sorted(r.id for r in t1.to_df(spark).collect()) == [1, 2, 3]


def test_upsert_into_empty_table_writes_no_delete_files(spark, warehouse):
    """First load via upsert: no prior snapshot means no equality
    deletes — and a v1 table's initial load must not crash on the
    v2-only delete-file check."""
    from icelake_spark.delta import upsert

    for ver in (1, 2):
        t = warehouse.create_table(f"db.first{ver}",
                                   _schema(spark, "id long, v long"),
                                   format_version=ver)
        upsert(t, spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"),
               key_cols=["id"])
        t.refresh()
        snap = t.current_snapshot()
        assert snap.summary.get("total-delete-files", "0") == "0"
        assert sorted((r.id, r.v) for r in t.to_df(spark).collect()) == [
            (1, 10), (2, 20)]


def test_append_casts_to_table_types(spark, warehouse):
    """Appending a narrower-typed frame (int into long) must coerce so
    the written parquet matches the table schema the reader requests."""
    t = warehouse.create_table("db.cast", _schema(spark, "id long, v double"))
    narrow = spark.createDataFrame([(1, 2)], "id int, v int")
    t.append(narrow)
    rows = t.to_df(spark).collect()
    assert [(r.id, r.v) for r in rows] == [(1, 2.0)]


def test_compaction_summary_drops_delete_file_bytes(spark, warehouse):
    """remove_all_existing must subtract the dropped delete FILES' bytes
    from total-files-size, or the total carries ghost bytes forever."""
    from icelake_spark.delta import delete_rows
    from icelake_spark.maintenance import rewrite_data_files
    from icelake_spark.types.manifest import read_manifest, read_manifest_list

    src = spark.createDataFrame([(i, i) for i in range(50)], "id long, v long")
    t = warehouse.create_table("db.bytes", _schema(spark, "id long, v long"))
    t.append(src)
    delete_rows(t, spark, "id < 5")  # MoR: adds position-delete files
    t.refresh()
    assert int(t.current_snapshot().summary["total-delete-files"]) > 0
    rewrite_data_files(t, spark)
    t.refresh()
    snap = t.current_snapshot()
    live_bytes = 0
    for mle in read_manifest_list(t._resolve(snap.manifest_list)):
        _, entries = read_manifest(t._resolve(mle.manifest_path))
        live_bytes += sum(e.data_file.file_size_in_bytes
                          for e in entries if e.is_alive)
    assert int(snap.summary["total-files-size"]) == live_bytes


def test_truncate_bounds_skips_surrogate_range():
    """Incrementing the upper-bound char past U+D7FF must skip the
    surrogate block (lone surrogates cannot UTF-8 encode, which used to
    silently drop both bounds)."""
    from icelake_spark.types import PrimitiveType, encode_bound
    from icelake_spark.write import _BOUND_TRUNC, _truncate_bounds

    hi = "x" * (_BOUND_TRUNC - 1) + "퟿" + "tail"
    lo = "a" * (_BOUND_TRUNC + 4)
    lo_t, hi_t = _truncate_bounds(PrimitiveType("string"), lo, hi)
    assert hi_t[-1] == "" and len(hi_t) == _BOUND_TRUNC
    assert hi_t > hi  # still a valid upper bound
    # and both bounds round-trip through the avro encoder
    encode_bound(PrimitiveType("string"), lo_t)
    encode_bound(PrimitiveType("string"), hi_t)


def test_struct_stats_not_inflated(spark, warehouse):
    """Nested struct leaves must not sum their counts into the parent
    field id (a 2-leaf struct used to report 2x value_counts)."""
    t = warehouse.create_table(
        "db.structs", _schema(spark, "id long, s struct<a:long, b:string>"))
    df = spark.createDataFrame([(i, (i, f"x{i}")) for i in range(10)],
                               "id long, s struct<a:long, b:string>")
    t.append(df)
    data, _, _ = t.new_scan().plan_files()
    sid = t.schema().field_by_name("s").field_id
    for task in data:
        vc = task.data_file.value_counts or {}
        # either no entry for the struct (conservative) or exactly nrows
        assert vc.get(sid, task.data_file.record_count) \
            <= task.data_file.record_count


def test_expire_retains_current_branch_ancestry(spark, warehouse):
    """retain_last counts ancestors of the CURRENT head; after a
    rollback, the rolled-past (newer-timestamped) snapshots must not
    consume the retained slots while live history is expired."""
    import time

    from icelake_spark.maintenance import expire_snapshots, rollback_to

    t = warehouse.create_table("db.expanc", _schema(spark, "id long"))
    ids = []
    for i in range(4):
        t.append(spark.createDataFrame([(i,)], "id long"))
        t.refresh()
        ids.append(t.current_snapshot().snapshot_id)
    rollback_to(t, ids[1])  # ids[2], ids[3] become rolled-past
    t.refresh()
    expire_snapshots(t, older_than_ms=int(time.time() * 1000) + 1000,
                     retain_last=2)
    t.refresh()
    kept = {s.snapshot_id for s in t.metadata.snapshots}
    # the head and its parent survive; the rolled-past branch is gone
    assert ids[0] in kept and ids[1] in kept
    assert ids[2] not in kept and ids[3] not in kept


def test_expire_default_keeps_recent_history(spark, warehouse):
    """A bare expire_snapshots(t) uses the 5-day default age instead of
    destroying all history immediately."""
    from icelake_spark.maintenance import expire_snapshots

    t = warehouse.create_table("db.expdef", _schema(spark, "id long"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))
    t.refresh()
    n_before = len(t.metadata.snapshots)
    assert expire_snapshots(t) == 0  # everything is younger than 5 days
    t.refresh()
    assert len(t.metadata.snapshots) == n_before


def test_add_data_with_delete_file_removal_classifies_append(
        spark, warehouse):
    """A transaction that ADDS data files while removing only delete
    files must classify as 'append', not 'replace': replace snapshots
    are excluded from incremental streams and the changelog, so the
    appended rows would silently never surface to stream consumers
    (ADVICE r8). Pure delete-file churn still classifies 'replace'."""
    from icelake_spark.transaction import Transaction
    from icelake_spark.types.manifest import (MANIFEST_CONTENT_DELETES,
                                              read_manifest,
                                              read_manifest_list)
    from icelake_spark.write import write_data_files

    src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t = warehouse.create_table("db.clsfy", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    t.upsert(spark.createDataFrame([(1, "a2")], "id long, v string"),
             key_cols=["id"])
    t = t.refresh()
    base = t.current_snapshot().snapshot_id
    del_paths = []
    for mle in read_manifest_list(
            t._resolve(t.current_snapshot().manifest_list)):
        if mle.content != MANIFEST_CONTENT_DELETES:
            continue
        for e in read_manifest(t._resolve(mle.manifest_path))[1]:
            del_paths.append(e.data_file.file_path)
    assert del_paths

    files = write_data_files(
        t, spark.createDataFrame([(9, "z")], "id long, v string"))
    tx = Transaction(t)
    tx.add_data_files(files)
    tx.remove_delete_files(del_paths)
    tx.commit()
    t = t.refresh()
    assert t.current_snapshot().summary["operation"] == "append"
    # the appended rows surface to the incremental (append-only) stream
    got = sorted(r.id for r in
                 t.incremental(spark, from_snapshot_id=base).collect())
    assert got == [9], got


def test_no_match_dml_leaves_no_orphan_files(spark, warehouse):
    """Since the write became the empty-match probe (r13), a no-match
    DELETE/MERGE runs the delete-file write job before discovering the
    match set is empty. The committer's zero-row part files (and the
    stage's _SUCCESS marker) are tracked by no manifest, so they must
    be reclaimed — otherwise every no-op DML grows data/ forever."""
    from icelake_spark.delta import OP_DELETE, delete_rows, merge_delta
    from icelake_spark.fileio import resolve_io

    src = spark.createDataFrame([(i, f"r{i}") for i in range(10)],
                                "id long, v string")
    t = warehouse.create_table("db.no_match_orphans",
                               _schema(spark, "id long, v string"))
    t.append(src)
    io = resolve_io(t.path)
    before = {p for p, _ in io.list_files(t.path)}
    snap_before = t.current_snapshot().snapshot_id

    delete_rows(t, spark, "id = -1")  # matches nothing
    t = t.refresh()
    # the no-match delete early-returns: no snapshot, no files
    assert t.current_snapshot().snapshot_id == snap_before
    # an all-empty CDC batch (merge_delta commits an empty snapshot by
    # long-standing semantics — only the FILES must not leak)
    merge_delta(t, spark.createDataFrame(
        [(100, "new", OP_DELETE)], "id long, v string, _op int")
        .where("id < 0"), key_cols=["id"])

    t = t.refresh()
    after = {p for p, _ in io.list_files(t.path)}
    orphans = {p for p in after - before if "/data/" in p}
    assert not orphans, sorted(orphans)
    # ADVICE r13: the empty del-*/uuid stage DIRECTORIES must be
    # reclaimed too (list_files-driven deletion left one empty dir per
    # no-match DML on local FS)
    import os
    data_dir = os.path.join(t.path, "data")
    empty_dirs = [os.path.join(r, d)
                  for r, ds, _ in os.walk(data_dir) for d in ds
                  if not os.listdir(os.path.join(r, d))]
    assert not empty_dirs, empty_dirs


def test_zero_row_crc_sidecar_reclaimed(tmp_path):
    """ADVICE r13: deleting a zero-row part file must also remove its
    Hadoop ChecksumFileSystem sidecar (.part-*.crc on local FS)."""
    from icelake_spark.fileio import delete_crc_sidecar, resolve_io

    d = tmp_path / "stage"
    d.mkdir()
    part = d / "part-00000.parquet"
    crc = d / ".part-00000.parquet.crc"
    part.write_bytes(b"x")
    crc.write_bytes(b"y")
    io = resolve_io(str(tmp_path))
    io.delete_quiet(str(part))
    delete_crc_sidecar(io, str(part))
    assert not part.exists() and not crc.exists()
    # quiet no-op when no sidecar exists
    delete_crc_sidecar(io, str(d / "part-00001.parquet"))
