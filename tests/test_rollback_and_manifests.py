"""Snapshot rollback and manifest compaction (metadata-only maintenance)."""

import pytest
from icelake_spark.types import Schema
from icelake_spark.types.manifest import read_manifest_list


def _counts(t, spark):
    return t.to_df(spark).count()


def test_rollback_to_restores_earlier_state(spark, warehouse):
    src = spark.range(300).selectExpr("id", "id % 3 as g")
    t = warehouse.create_table("db.rb", Schema.from_spark(src.schema))
    t.append(src.where("id < 100"))
    t = t.refresh()
    first = t.current_snapshot().snapshot_id
    t.append(src.where("id >= 100"))
    t = t.refresh()
    assert _counts(t, spark) == 300
    t.rollback_to(first)
    t = t.refresh()
    assert t.current_snapshot().snapshot_id == first
    assert _counts(t, spark) == 100
    # rolled-past snapshot still time-travelable
    assert t.to_df(spark, snapshot_id=first + 1).count() == 300
    # writing after rollback forks history from the restored snapshot
    t.append(src.where("id >= 200"))
    t = t.refresh()
    assert _counts(t, spark) == 200
    assert t.current_snapshot().parent_snapshot_id == first


def test_rollback_unknown_snapshot(spark, warehouse):
    src = spark.range(10).selectExpr("id")
    t = warehouse.create_table("db.rb2", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    with pytest.raises(KeyError):
        t.rollback_to(999999)


def test_rewrite_manifests_compacts_tree(spark, warehouse):
    src = spark.range(1000).selectExpr("id", "id % 4 as g")
    t = warehouse.create_table("db.rm", Schema.from_spark(src.schema))
    for lo in range(0, 1000, 200):
        t.append(src.where(f"id >= {lo} and id < {lo + 200}"))
        t = t.refresh()
    before = read_manifest_list(
        t._resolve(t.current_snapshot().manifest_list))
    assert len(before) == 5
    files_before, _, _ = t.new_scan().plan_files()
    n = t.rewrite_manifests()
    assert n == 5
    t = t.refresh()
    after = read_manifest_list(
        t._resolve(t.current_snapshot().manifest_list))
    assert len(after) == 1
    assert t.current_snapshot().summary["operation"] == "replace"
    # same data files, same rows, still prunable by stats
    full, _, _ = t.new_scan().plan_files()
    assert len(full) == len(files_before)
    assert _counts(t, spark) == 1000
    pruned, _, _ = t.new_scan(filter="id >= 800").plan_files()
    assert len(pruned) < len(full)


def test_rewrite_manifests_keeps_deletes(spark, warehouse):
    src = spark.range(500).selectExpr("id", "id % 5 as g")
    t = warehouse.create_table("db.rmd", Schema.from_spark(src.schema))
    t.append(src.where("id < 250"))
    t = t.refresh()
    t.append(src.where("id >= 250"))
    t = t.refresh()
    t.delete_where(spark, "g = 0")
    t = t.refresh()
    t.rewrite_manifests()
    t = t.refresh()
    # MoR deletes still applied after manifest compaction
    assert _counts(t, spark) == 400
    _, pos, _ = t.new_scan().plan_files()
    assert pos


def test_rewrite_zorder_prunes_on_both_columns(spark, warehouse):
    from pyspark.sql import functions as F

    from icelake_spark.maintenance import rewrite_zorder
    from icelake_spark.types import Schema

    # two independent uniform columns, written in random row order so
    # every file's (a, b) bounds span nearly the full domain
    src = (spark.range(40000)
           .select(F.col("id"),
                   (F.xxhash64("id") % 1000).alias("a"),
                   (F.xxhash64("id", F.lit(1)) % 1000).alias("b"))
           .repartition(8))
    t = warehouse.create_table("db.zo", Schema.from_spark(src.schema))
    t.append(src)

    def files_hit(pred):
        return len(t.new_scan(filter=pred).plan_files()[0])

    total_before = len(t.new_scan().plan_files()[0])
    assert files_hit("a >= -900 AND a < -800") == total_before  # no layout

    n_files = rewrite_zorder(t, spark, ["a", "b"],
                             target_file_size=64 * 1024)
    assert n_files >= 4
    total = len(t.new_scan().plan_files()[0])
    hit_a = files_hit("a >= -900 AND a < -800")
    hit_b = files_hit("b >= -900 AND b < -800")
    # z-order tightens per-file bounds on BOTH columns
    assert hit_a < total and hit_b < total
    # and the data survives intact
    assert t.to_df(spark).count() == 40000


def test_rewrite_manifests_after_rollback_gets_fresh_id(spark, warehouse):
    """snapshot ids must be max(all)+1, not parent+1: after rollback_to
    an earlier snapshot, parent+1 collides with an existing id and reads
    silently resolve the OLD snapshot (advice r1, maintenance.py)."""
    from icelake_spark.types import Schema

    src = spark.range(10).selectExpr("id", "id % 2 as g")
    t = warehouse.create_table("db.rwm_rb", Schema.from_spark(src.schema))
    t.append(src.where("id < 5"))
    first = t.refresh().current_snapshot().snapshot_id
    t.append(src.where("id >= 5"))
    t = t.refresh()
    t.rollback_to(first)
    t = t.refresh()
    t.append(src.where("id >= 5"))  # creates 2+ manifests again
    t = t.refresh()
    existing = {s.snapshot_id for s in t.metadata.snapshots}
    t.rewrite_manifests()
    t = t.refresh()
    new_id = t.current_snapshot().snapshot_id
    assert new_id not in existing, (new_id, existing)
    assert t.to_df(spark).count() == 10


def test_summary_delete_totals_reset_on_compaction(spark, warehouse):
    """replace/overwrite-all drops every delete manifest; the snapshot
    summary must not keep claiming the old delete-file totals."""
    from icelake_spark.maintenance import rewrite_data_files
    from icelake_spark.types import Schema

    src = spark.range(100).selectExpr("id")
    t = warehouse.create_table("db.sumdel", Schema.from_spark(src.schema))
    t.append(src)
    t.delete_where(spark, "id < 10")
    t = t.refresh()
    assert int(t.current_snapshot().summary["total-delete-files"]) >= 1
    rewrite_data_files(t, spark)
    t = t.refresh()
    s = t.current_snapshot().summary
    assert s["total-delete-files"] == "0"
    assert s["total-position-deletes"] == "0"
    assert t.to_df(spark).count() == 90


def test_orphan_cleanup_spares_fresh_staged_files(spark, warehouse, tmp_path):
    """Default orphan cutoff must NOT delete just-written unreferenced
    files — an in-flight write stages data before its commit publishes
    the manifest (review r2: cutoff was now+1)."""
    import os
    import time

    from icelake_spark.maintenance import remove_orphan_files
    from icelake_spark.types import Schema

    src = spark.range(10).selectExpr("id")
    t = warehouse.create_table("db.orph", Schema.from_spark(src.schema))
    t.append(src)
    staged = os.path.join(t.path, "data", "inflight", "part-x.parquet")
    os.makedirs(os.path.dirname(staged), exist_ok=True)
    src.limit(1).toPandas().to_parquet(staged)
    assert remove_orphan_files(t) == 0  # default 3-day cutoff spares it
    assert os.path.exists(staged)
    # explicit future cutoff removes it (and would remove .orc/.avro too)
    assert remove_orphan_files(t, older_than_ms=int(
        (time.time() + 60) * 1000)) == 1
    assert not os.path.exists(staged)
    assert t.to_df(spark).count() == 10


def test_stale_version_hint_recovers(spark, warehouse):
    """A hint older than the max metadata file (crash between link and
    hint write) must not livelock commits (review r2)."""
    import os

    from icelake_spark.table import IcebergTable
    from icelake_spark.types import Schema

    src = spark.range(5).selectExpr("id")
    t = warehouse.create_table("db.stale", Schema.from_spark(src.schema))
    t.append(src)
    t.append(src.selectExpr("id + 10 as id"))
    hint = os.path.join(t.path, "metadata", "version-hint.text")
    with open(hint, "w") as f:
        f.write("1")  # stale: v2+ exists
    t2 = IcebergTable.load(t.path)
    assert t2.to_df(spark).count() == 10  # resolves the max, not the hint
    t2.append(src.selectExpr("id + 20 as id"))  # commits without conflict
    assert t2.refresh().to_df(spark).count() == 15
    # corrupt hint also falls back instead of crashing
    with open(hint, "w") as f:
        f.write("not-a-number")
    assert IcebergTable.load(t.path).to_df(spark).count() == 15
    # hint AHEAD of every metadata file (parses fine, file absent):
    # must fall back to the scan, not raise (advice r2)
    with open(hint, "w") as f:
        f.write("999")
    assert IcebergTable.load(t.path).to_df(spark).count() == 15


def test_zorder_temporal_and_bit_clamp(spark, warehouse):
    """zorder accepts date/timestamp columns and clamps interleaved bits
    to 64 (review r2: float(date) crashed; >64-bit shifts corrupted)."""
    from icelake_spark.maintenance import rewrite_zorder
    from icelake_spark.types import Schema

    src = spark.range(2000).selectExpr(
        "id", "date_add(date'2024-01-01', cast(id % 365 as int)) as d",
        "id % 7 as a", "id % 11 as b", "id % 13 as c", "id % 17 as e")
    t = warehouse.create_table("db.zdt", Schema.from_spark(src.schema))
    t.append(src)
    n = rewrite_zorder(t, spark, ["d", "id"], target_file_size=64 * 1024)
    assert n >= 1
    assert t.refresh().to_df(spark).count() == 2000
    # 5 cluster columns would need 80 bits at bits=16 — must still work
    n = rewrite_zorder(t, spark, ["id", "a", "b", "c", "e"],
                       target_file_size=64 * 1024)
    assert n >= 1 and t.refresh().to_df(spark).count() == 2000
    # string cluster columns fail fast with a clear error
    import pytest as _p

    src2 = spark.range(10).selectExpr("id", "cast(id as string) as s")
    t2 = warehouse.create_table("db.zstr", Schema.from_spark(src2.schema))
    t2.append(src2)
    with _p.raises(ValueError, match="zorder does not support"):
        rewrite_zorder(t2, spark, ["s"])


def test_zorder_preserves_clustering_on_partitioned_table(spark, warehouse):
    """On a PARTITIONED table the z-order rewrite must keep its range
    clustering: the writer's default hash shuffle on partition columns
    would scramble row order and leave every file with near-global
    min/max bounds (review r3)."""
    from icelake_spark.maintenance import rewrite_zorder
    from icelake_spark.types import PartitionField, PartitionSpec, Schema

    src = spark.range(20000).selectExpr(
        "id", "CAST(id % 4 AS INT) AS bucket", "CAST(id AS DOUBLE) AS x")
    schema = Schema.from_spark(src.schema)
    spec = PartitionSpec(0, (PartitionField(
        schema.field_by_name("bucket").field_id, 1000, "identity", "bucket"),))
    t = warehouse.create_table("db.zpart", schema, spec=spec)
    # several small appends -> several files per partition
    for i in range(4):
        t.append(src.where(f"id % 4 = {i}"))
    t = t.refresh()
    n = rewrite_zorder(t, spark, ["x"], target_file_size=64 * 1024)
    assert n > 1
    t = t.refresh()
    data, _, _ = t.new_scan().plan_files()
    schema_now = t.schema()
    fid = schema_now.field_by_name("x").field_id
    spans = []
    for task in data:
        lo = task.data_file.decoded_bounds(schema_now, "lower").get(fid)
        hi = task.data_file.decoded_bounds(schema_now, "upper").get(fid)
        assert lo is not None and hi is not None
        spans.append(hi - lo)
    # clustered files cover narrow, mostly-disjoint x ranges; a scrambled
    # write gives every file a ~full-range span (~20000)
    assert len(spans) > 1
    assert sorted(spans)[len(spans) // 2] < 20000 / 2


def test_rollback_preserves_main_ref_retention(spark, warehouse):
    """rollback_to must carry the main branch's retention knobs over to
    the new ref instead of resetting them (review r3)."""
    from dataclasses import replace as dc_replace

    from icelake_spark.maintenance import rollback_to
    from icelake_spark.table import IcebergTable
    from icelake_spark.types import Schema

    src = spark.range(5).selectExpr("id")
    t = warehouse.create_table("db.rbref", Schema.from_spark(src.schema))
    t.append(src)
    s1 = t.refresh().current_snapshot().snapshot_id
    t.append(src.selectExpr("id + 10 AS id"))
    t = t.refresh()
    # configure retention on main
    md = t.metadata
    refs = dict(md.refs)
    refs["main"] = dc_replace(refs["main"], min_snapshots_to_keep=7)
    t._commit_metadata(dc_replace(md, refs=refs))
    t = IcebergTable.load(t.path)
    rollback_to(t, s1)
    t = IcebergTable.load(t.path)
    assert t.metadata.refs["main"].snapshot_id == s1
    assert t.metadata.refs["main"].min_snapshots_to_keep == 7


def test_expire_snapshots_deletes_only_after_commit(spark, warehouse, monkeypatch):
    """A failed metadata commit must leave every file intact: expire
    inventories dead files before the commit but deletes them only
    after it succeeds (review r3)."""
    import glob as _glob
    import os

    from icelake_spark.maintenance import expire_snapshots
    from icelake_spark.table import IcebergTable
    from icelake_spark.types import Schema

    src = spark.range(10).selectExpr("id")
    t = warehouse.create_table("db.expfail", Schema.from_spark(src.schema))
    t.append(src)
    t.append(src.selectExpr("id + 10 AS id"))
    t = t.refresh()
    before = set(_glob.glob(os.path.join(t.path, "**", "*"), recursive=True))

    def boom(md):
        raise RuntimeError("simulated commit conflict")

    monkeypatch.setattr(t, "_commit_metadata", boom)
    import time as _time

    import pytest as _pytest
    with _pytest.raises(RuntimeError):
        # explicit cutoff: the no-arg default is the safe 5-day age
        expire_snapshots(t, older_than_ms=int(_time.time() * 1000) + 1000,
                         retain_last=1)
    after = set(_glob.glob(os.path.join(t.path, "**", "*"), recursive=True))
    assert before == after  # nothing deleted on a failed commit
    # and the table still reads fine
    assert IcebergTable.load(t.path).to_df(spark).count() == 20


def test_rewrite_position_deletes_compacts(spark, warehouse):
    """N delete commits → N pos-delete files, every scan reads all of
    them; compaction merges them into one file with identical rows."""
    from icelake_spark.maintenance import rewrite_position_deletes

    src = spark.range(1000).selectExpr("id", "id % 7 as g")
    t = warehouse.create_table("db.pdc", Schema.from_spark(src.schema))
    t.append(src)
    for i in range(4):
        t = t.refresh()
        t.delete_where(spark, f"id % 10 = {i}")
    t = t.refresh()
    before = sorted(r.id for r in t.to_df(spark).collect())
    _, pos, _ = t.new_scan().plan_files(spark)
    assert len(pos) == 4
    assert rewrite_position_deletes(t, spark) == 4
    t = t.refresh()
    _, pos2, _ = t.new_scan().plan_files(spark)
    assert len(pos2) == 1
    assert sorted(r.id for r in t.to_df(spark).collect()) == before
    assert len(before) == 600
    # deletes AFTER compaction still apply on top
    t.delete_where(spark, "id = 5")
    t = t.refresh()
    assert t.to_df(spark).count() == 599


def test_rewrite_position_deletes_keeps_equality_deletes(spark, warehouse):
    from icelake_spark.delta import upsert
    from icelake_spark.maintenance import rewrite_position_deletes

    src = spark.range(200).selectExpr("id", "cast(id as string) as v")
    t = warehouse.create_table("db.pde", Schema.from_spark(src.schema))
    t.append(src)
    # equality deletes (upsert) + two position-delete commits
    upsert(t, spark.createDataFrame([(1, "one"), (2, "two")],
                                    "id long, v string"), key_cols=["id"])
    t = t.refresh()
    t.delete_where(spark, "id = 10")
    t = t.refresh()
    t.delete_where(spark, "id = 11")
    t = t.refresh()
    before = sorted((r.id, r.v) for r in t.to_df(spark).collect())
    _, pos, eq = t.new_scan().plan_files(spark)
    assert len(pos) == 2 and len(eq) == 1
    assert rewrite_position_deletes(t, spark) == 2
    t = t.refresh()
    _, pos2, eq2 = t.new_scan().plan_files(spark)
    assert len(pos2) == 1 and len(eq2) == 1  # eq deletes untouched
    assert sorted((r.id, r.v) for r in t.to_df(spark).collect()) == before


def test_rewrite_position_deletes_noop_single_file(spark, warehouse):
    from icelake_spark.maintenance import rewrite_position_deletes

    src = spark.range(100).selectExpr("id")
    t = warehouse.create_table("db.pd1", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    t.delete_where(spark, "id = 1")
    t = t.refresh()
    snaps_before = len(t.metadata.snapshots)
    assert rewrite_position_deletes(t, spark) == 1
    t = t.refresh()
    assert len(t.metadata.snapshots) == snaps_before  # no commit


def test_delete_compaction_summary_and_classify(spark, warehouse):
    """rewrite_position_deletes must not inflate the running delete
    totals, and a remove-only delete-file commit classifies as
    'replace', not 'append' (code-review r8)."""
    from icelake_spark.maintenance import rewrite_position_deletes

    src = spark.range(40).selectExpr("id", "id % 4 as g")
    t = warehouse.create_table("db.cmpsum", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    for k in (1, 2, 3):
        t.delete_where(spark, f"id = {k}")
        t = t.refresh()
    s = t.current_snapshot().summary
    assert int(s["total-delete-files"]) == 3
    assert int(s["total-position-deletes"]) == 3
    n = rewrite_position_deletes(t, spark)
    assert n == 3
    t = t.refresh()
    s2 = t.current_snapshot().summary
    # 3 old files replaced by 1 merged file carrying the same 3 rows
    assert int(s2["total-delete-files"]) == 1, s2
    assert int(s2["total-position-deletes"]) == 3, s2
    assert s2["operation"] == "replace"
    # rows unaffected
    assert t.to_df(spark).count() == 37


def test_rewrite_keeps_untouched_data_manifests(spark, warehouse):
    """A removal commit carries untouched data manifests forward AS-IS
    instead of rewriting every manifest (O(table) metadata I/O per
    small delete — code-review r8)."""
    src = spark.range(40).selectExpr("id", "id % 4 as g")
    t = warehouse.create_table("db.keepman", Schema.from_spark(src.schema))
    for lo in (0, 10, 20, 30):  # four appends -> four data manifests
        t.append(src.where(f"id >= {lo} and id < {lo + 10}"))
        t = t.refresh()
    before = read_manifest_list(
        t._resolve(t.current_snapshot().manifest_list))
    paths_before = {m.manifest_path for m in before}
    assert len(before) == 4
    # CoW-remove ONE file (delete_where with copy-on-write rewrites)
    victims = [task.data_file.file_path
               for task in t.new_scan().plan_files()[0]][:1]
    from icelake_spark.transaction import Transaction

    tx = Transaction(t)
    tx.remove_data_files(victims)
    tx.commit("delete")
    t = t.refresh()
    after = read_manifest_list(
        t._resolve(t.current_snapshot().manifest_list))
    kept = {m.manifest_path for m in after} & paths_before
    # the three manifests not containing the victim are byte-identical
    assert len(kept) == 3, (len(kept), len(after))
    assert t.to_df(spark).count() == 30
    # delete-file compaction does not touch data manifests at all
    t.delete_where(spark, "id = 25")
    t = t.refresh()
    from icelake_spark.maintenance import rewrite_position_deletes

    before2 = {m.manifest_path for m in read_manifest_list(
        t._resolve(t.current_snapshot().manifest_list)) if m.content == 0}
    rewrite_position_deletes(t, spark)
    t = t.refresh()
    after2 = {m.manifest_path for m in read_manifest_list(
        t._resolve(t.current_snapshot().manifest_list)) if m.content == 0}
    assert after2 == before2


def test_maintenance_guards_round9(spark, warehouse):
    """Round-9 maintenance safety guards: cherrypick refuses ancestors
    AND retried picks of the same staged snapshot (its publish records
    source-snapshot-id provenance); rollback_to refuses non-ancestors
    (set_current_snapshot is the unrestricted move); expire_snapshots
    aborts when a KEPT snapshot's manifest is missing instead of
    silently shrinking the live-file set before deleting."""
    import pytest

    from icelake_spark.maintenance import (cherrypick_snapshot,
                                           expire_snapshots, rollback_to,
                                           set_current_snapshot)
    from icelake_spark.types import Schema

    src = spark.createDataFrame([(1, "a")], "id long, v string")
    t = warehouse.create_table("db.guards", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    s1 = t.current_snapshot().snapshot_id
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    t = t.refresh()

    # cherrypick of a published main-ancestry snapshot would duplicate rows
    with pytest.raises(ValueError, match="ancestor"):
        cherrypick_snapshot(t, s1)

    # staged append on a branch: first pick publishes, retry refuses
    t.create_branch("wip")
    from icelake_spark.transaction import Transaction
    from icelake_spark.write import write_data_files
    files = write_data_files(
        t, spark.createDataFrame([(5, "e")], "id long, v string"))
    tx = Transaction(t, branch="wip")
    tx.add_data_files(files)
    staged = tx.commit("append").snapshot_id
    t = t.refresh()
    cherrypick_snapshot(t, staged)
    t = t.refresh()
    assert sorted(r.id for r in t.to_df(spark).collect()) == [1, 2, 5]
    with pytest.raises(ValueError, match="already"):
        cherrypick_snapshot(t, staged)

    # rollback_to: ancestry-validated; set_current_snapshot unrestricted
    head = t.current_snapshot().snapshot_id
    rollback_to(t, s1)
    t = t.refresh()
    assert sorted(r.id for r in t.to_df(spark).collect()) == [1]
    with pytest.raises(ValueError, match="ancestor"):
        rollback_to(t, head)  # rolled-past: not an ancestor anymore
    set_current_snapshot(t, head)
    t = t.refresh()
    assert sorted(r.id for r in t.to_df(spark).collect()) == [1, 2, 5]

    # expire_snapshots with a KEPT snapshot's manifest missing: abort
    import os
    ml = t.current_snapshot().manifest_list
    from icelake_spark.types.manifest import read_manifest_list
    victim = t._resolve(read_manifest_list(t._resolve(ml))[0].manifest_path)
    os.rename(victim, victim + ".hidden")
    try:
        with pytest.raises(FileNotFoundError):
            expire_snapshots(t, older_than_ms=int(2**53), retain_last=1)
    finally:
        os.rename(victim + ".hidden", victim)


def test_analyze_clears_stale_stats_properties(spark, warehouse):
    """Re-running ANALYZE on different columns must clear the previous
    run's stats.* properties — stats.snapshot-id stamps the whole
    namespace, so leftovers would masquerade as current
    (code-review r9)."""
    from icelake_spark.maintenance import compute_table_stats
    from icelake_spark.types import Schema

    src = spark.createDataFrame([(1, 10.0), (2, 20.0)],
                                "id long, v double")
    t = warehouse.create_table("db.an9", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    compute_table_stats(t, spark, columns=["id"])
    t = t.refresh()
    assert "stats.id.ndv" in t.metadata.properties
    compute_table_stats(t, spark, columns=["v"])
    t = t.refresh()
    props = t.metadata.properties
    assert "stats.v.ndv" in props
    assert not any(k.startswith("stats.id.") for k in props), props


def test_orphan_cleanup_aborts_on_unreadable_manifest(spark, warehouse):
    """An unreadable manifest of a retained snapshot must abort orphan
    cleanup: skipping it would leave that manifest's live data files
    out of the referenced set, and the cleanup would delete them."""
    import os
    import time

    from icelake_spark.maintenance import remove_orphan_files

    src = spark.createDataFrame([(1, "a")], "id long, v string")
    t = warehouse.create_table("db.orph_strict",
                               Schema.from_spark(src.schema))
    t.append(src)
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    t = t.refresh()
    files = [task.data_file.file_path
             for task in t.new_scan().plan_files()[0]]
    assert len(files) == 2
    mles = read_manifest_list(t._resolve(t.current_snapshot().manifest_list))
    newest = t._resolve(
        max(mles, key=lambda m: m.sequence_number).manifest_path)
    os.rename(newest, newest + ".hidden")
    try:
        with pytest.raises(FileNotFoundError):
            remove_orphan_files(
                t, older_than_ms=int(time.time() * 1000) + 10_000)
        assert all(os.path.exists(f) for f in files), files
    finally:
        os.rename(newest + ".hidden", newest)


def test_inherited_entry_ids_on_staged_branch(spark, warehouse):
    """A v2 writer may leave an ADDED entry's snapshot_id,
    sequence_number and file_sequence_number null, to be inherited
    from the manifest-list entry. Every reader of a staged snapshot
    written that way must see the inherited values: the branch read,
    the `entries` metadata table, and the cherry-pick that publishes
    it."""
    from icelake_spark.maintenance import cherrypick_snapshot
    from icelake_spark.transaction import Transaction
    from icelake_spark.types.manifest import (MANIFEST_CONTENT_DATA,
                                              read_manifest, write_manifest)
    from icelake_spark.write import write_data_files

    schema = "id long, v string"
    t = warehouse.create_table(
        "db.inherit", Schema.from_spark(
            spark.createDataFrame([], schema).schema))
    t.append(spark.createDataFrame([(1, "a")], schema))
    t = t.refresh()
    t.create_branch("wip")
    tx = Transaction(t, branch="wip")
    tx.add_data_files(write_data_files(
        t, spark.createDataFrame([(5, "e")], schema)))
    staged = tx.commit("append")
    t = t.refresh()

    (mle,) = [m for m in read_manifest_list(t._resolve(staged.manifest_list))
              if m.added_snapshot_id == staged.snapshot_id]
    path = t._resolve(mle.manifest_path)
    _, entries = read_manifest(path)
    for e in entries:
        e.snapshot_id = e.sequence_number = e.file_sequence_number = None
    md = t.metadata
    write_manifest(path, entries, md.default_spec(), md.current_schema(),
                   staged.snapshot_id, md.format_version,
                   MANIFEST_CONTENT_DATA, sequence_number=mle.sequence_number)
    assert all(e.sequence_number is None for e in read_manifest(path)[1])

    assert sorted(r.id for r in t.to_df(spark, ref="wip").collect()) == [1, 5]
    ent = t.entries_df(spark, snapshot_id=staged.snapshot_id).collect()
    added = [r for r in ent if r.status == 1
             and r.snapshot_id == staged.snapshot_id]
    assert len(added) == 1, ent
    assert added[0].sequence_number == mle.sequence_number
    assert added[0].file_sequence_number == mle.sequence_number

    cherrypick_snapshot(t, staged.snapshot_id)
    t = t.refresh()
    assert t.current_snapshot().summary["source-snapshot-id"] == \
        str(staged.snapshot_id)
    assert sorted(r.id for r in t.to_df(spark).collect()) == [1, 5]
