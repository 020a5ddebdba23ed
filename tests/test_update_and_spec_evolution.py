"""Row-level UPDATE (MoR + CoW) and partition-spec evolution."""

import pytest
from pyspark.sql import functions as F

from icelake_spark.types import Schema


def _make(spark, warehouse, name, props=None, version=2):
    src = spark.range(1000).selectExpr(
        "id", "id % 10 as g", "cast(id * 1.5 as double) as v")
    t = warehouse.create_table(f"db.{name}", Schema.from_spark(src.schema),
                               properties=props or {},
                               format_version=version)
    t.append(src)
    return t, src


@pytest.mark.parametrize("props,version", [
    ({}, 2),                                      # MoR default
    ({"write.update.mode": "copy-on-write"}, 2),  # explicit CoW
    ({}, 1),                                      # v1 forces CoW
])
def test_update_where_matches_sql_semantics(spark, warehouse, props, version):
    name = f"upd_{version}_{'cow' in str(props)}"
    t, src = _make(spark, warehouse, name, props, version)
    t.update_where(spark, "g = 3", {"v": "v * 10", "g": "g + 100"})
    got = sorted(tuple(r) for r in t.refresh().to_df(spark).collect())
    want = sorted(tuple(r) for r in src.selectExpr(
        "id",
        "case when g = 3 then g + 100 else g end as g_new",
        "case when g = 3 then v * 10 else v end as v_new",
    ).selectExpr("id", "g_new as g", "v_new as v").collect())
    assert got == want


def test_update_where_set_evaluates_old_values(spark, warehouse):
    # v := g and g := v must swap, not chain
    t, _ = _make(spark, warehouse, "upd_swap")
    t.update_where(spark, "id < 5", {"g": "cast(v as long)", "v": "cast(g as double)"})
    rows = {r.id: r for r in t.refresh().to_df(spark).where("id < 5").collect()}
    assert rows[4].g == 6 and rows[4].v == 4.0  # old v=6.0, old g=4


def test_update_where_unknown_column_rejected(spark, warehouse):
    t, _ = _make(spark, warehouse, "upd_bad")
    with pytest.raises(ValueError):
        t.update_where(spark, "g = 1", {"nope": "1"})


def test_update_where_mor_emits_position_deletes(spark, warehouse):
    t, _ = _make(spark, warehouse, "upd_mor_files")
    t.update_where(spark, "g = 7", {"v": "0.0"})
    t = t.refresh()
    snap = t.current_snapshot()
    assert snap.summary.get("operation") == "overwrite"
    _, pos, _ = t.new_scan().plan_files()
    assert pos, "merge-on-read update must write position deletes"


def test_partition_spec_evolution(spark, warehouse):
    src = spark.range(200).selectExpr(
        "id", "timestamp'2024-03-05 10:00:00' + make_interval(0,0,0,0,0,0,id*3600) as ts")
    t = warehouse.create_table("db.evo", Schema.from_spark(src.schema))
    t.append(src)                      # unpartitioned spec 0
    t = t.refresh()
    t.update_spec("day(ts)", "bucket[4](id)")
    t = t.refresh()
    assert t.metadata.default_spec_id == 1
    assert [f.transform for f in t.metadata.default_spec().fields] == \
        ["day", "bucket[4]"]
    # ids continue from last_partition_id (reserved range >= 1000)
    fids = [f.partition_field_id for f in t.metadata.default_spec().fields]
    assert fids == sorted(fids) and fids[0] >= 1000
    # new writes land under the new spec; old files keep spec 0
    t.append(src.selectExpr("id + 1000 as id", "ts"))
    t = t.refresh()
    data, _, _ = t.new_scan().plan_files()
    assert {task.spec_id for task in data} == {0, 1}
    new_files = [task for task in data if task.spec_id == 1]
    assert all(task.data_file.partition for task in new_files)
    # full scan still returns everything exactly once
    assert t.to_df(spark).count() == 400
    # partition pruning applies to new-spec files only; old files survive
    pruned, _, _ = t.new_scan(filter="id >= 1000").plan_files()
    assert len(pruned) <= len(data)


def test_update_spec_unknown_column(spark, warehouse):
    t, _ = _make(spark, warehouse, "evo_bad")
    with pytest.raises(KeyError):
        t.update_spec("month(nope)")


def test_update_after_upsert_does_not_resurrect(spark, warehouse):
    """update_where must apply existing equality deletes before matching:
    an upsert supersedes the original row via an equality delete, so a
    later UPDATE of that key must produce exactly one row, not re-append
    the superseded copy (advice r1: delta.py update path read raw files)."""
    src = spark.createDataFrame([(1, 10.0)], "id long, v double")
    t = warehouse.create_table("db.upd_upsert", Schema.from_spark(src.schema))
    t.append(src)
    t.upsert(spark.createDataFrame([(1, 20.0)], "id long, v double"),
             key_cols=["id"])
    t = t.refresh()
    t.update_where(spark, "id = 1", {"v": "v + 1"})
    rows = t.refresh().to_df(spark).collect()
    assert len(rows) == 1 and rows[0].v == 21.0, rows


def test_update_after_mor_delete_does_not_resurrect(spark, warehouse):
    """update_where must apply existing position deletes: a deleted row
    must not be matched by a later UPDATE and re-appended."""
    src = spark.range(10).selectExpr("id", "cast(id as double) as v")
    t = warehouse.create_table("db.upd_del", Schema.from_spark(src.schema))
    t.append(src)
    t.delete_where(spark, "id < 5")
    t = t.refresh()
    t.update_where(spark, "id >= 0", {"v": "v + 100"})
    got = sorted(r.id for r in t.refresh().to_df(spark).collect())
    assert got == [5, 6, 7, 8, 9], got


def test_cow_delete_after_upsert_does_not_resurrect(spark, warehouse):
    """copy-on-write rewrite keeps only LIVE rows of affected files —
    survivors of a rewrite must not include rows superseded by an
    earlier upsert's equality delete."""
    src = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    t = warehouse.create_table(
        "db.cow_upsert", Schema.from_spark(src.schema),
        properties={"write.delete.mode": "copy-on-write"})
    t.append(src)
    t.upsert(spark.createDataFrame([(1, 9.0)], "id long, v double"),
             key_cols=["id"])
    t = t.refresh()
    # CoW rewrite of the file containing id=2 (and the superseded id=1)
    t.delete_where(spark, "id = 2")
    rows = sorted(tuple(r) for r in t.refresh().to_df(spark).collect())
    assert rows == [(1, 9.0)], rows


def test_partition_filter_exact_across_spec_evolution(spark, warehouse):
    """partition_filter is exact WHERE semantics: files written BEFORE
    the column became a partition field are kept by pruning (their
    spec lacks the field) but their non-matching rows must be filtered
    out by the residual (code-review r8)."""
    src = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "A")], "id long, flag string")
    t = warehouse.create_table("db.pfres", Schema.from_spark(src.schema))
    t.append(src)  # unpartitioned file with mixed flags
    t = t.refresh()
    t.update_spec("flag")
    t = t.refresh()
    t.append(spark.createDataFrame([(4, "A"), (5, "B")],
                                   "id long, flag string"))
    t = t.refresh()
    got = sorted(r.id for r in
                 t.new_scan(partition_filter={"flag": "A"})
                 .to_df(spark).collect())
    assert got == [1, 3, 4], got
    # transformed partition fields filter exactly too
    src2 = spark.createDataFrame(
        [(1, "2024-01-05"), (2, "2024-02-10"), (3, "2024-01-20")],
        "id long, d string").selectExpr("id", "cast(d as date) as d")
    t2 = warehouse.create_table("db.pfres2", Schema.from_spark(src2.schema))
    t2.append(src2)  # one file, unpartitioned
    t2 = t2.refresh()
    t2.update_spec("month(d)")
    t2 = t2.refresh()
    jan = (2024 - 1970) * 12 + 0
    got2 = sorted(r.id for r in
                  t2.new_scan(partition_filter={"d_month": jan})
                  .to_df(spark).collect())
    assert got2 == [1, 3], got2


def test_branch_commit_preserves_ref_retention_and_refuses_tags(
        spark, warehouse):
    """Committing to a branch keeps its retention knobs (a bare ref
    replacement reset them every commit); committing to a tag raises
    (code-review r8)."""
    import pytest

    from icelake_spark.transaction import Transaction

    src = spark.range(5).selectExpr("id")
    t = warehouse.create_table("db.refkeep", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    t.create_ref("audit", "branch", min_snapshots_to_keep=10,
                 max_snapshot_age_ms=12345)
    t.create_tag("v1")
    t = t.refresh()
    t.append(src, branch="audit")
    t = t.refresh()
    ref = t.metadata.refs["audit"]
    assert ref.min_snapshots_to_keep == 10
    assert ref.max_snapshot_age_ms == 12345
    with pytest.raises(ValueError, match="tag"):
        tx = Transaction(t, branch="v1")
        tx.add_data_files([])
        tx.commit("append")


def test_partition_residual_default_spec_on_conflicting_transform(
        spark, warehouse):
    """Spec evolution can re-create a same-named partition field with a
    DIFFERENT transform (bucket[4](id) -> bucket[3](id), both named
    id_bucket). The filter key resolves DEFAULT-SPEC-FIRST, shared by
    pruning and the row-level residual: old-spec files are NOT pruned
    by their stale raw value (they may hold rows matching the default
    transform) and the residual applies the default spec's transform
    to every row — exact WHERE semantics under the current spec's
    meaning of the name (ADVICE r8 / code-review r9)."""
    from icelake_spark.types.transforms import apply_transform_py

    src = spark.createDataFrame([(i, f"v{i}") for i in range(20)],
                                "id long, v string")
    t = warehouse.create_table("db.pfconf", Schema.from_spark(src.schema))
    t.update_spec("bucket[4](id)")
    t = t.refresh()
    t.append(src.where("id < 10"))
    t = t.refresh()
    t.update_spec("bucket[3](id)")
    t = t.refresh()
    t.append(src.where("id >= 10"))
    t = t.refresh()
    names = {f.name for spec in t.metadata.partition_specs
             for f in spec.fields}
    assert names == {"id_bucket"}  # same name, two transforms

    id_type = t.schema().field_by_name("id").field_type
    want = sorted(i for i in range(20)
                  if apply_transform_py("bucket[3]", i, id_type) == 1)
    got = sorted(r.id for r in
                 t.new_scan(partition_filter={"id_bucket": 1})
                 .to_df(spark).collect())
    assert got == want, (got, want)
    # sanity: the conflict case is non-trivial (some matching rows
    # live in bucket[4]-era files whose raw value != 1)
    old_era = [i for i in want if i < 10
               and apply_transform_py("bucket[4]", i, id_type) != 1]
    assert old_era, "test construction no longer exercises the conflict"

    # agreement case still filters row-exact: a field whose (source,
    # transform) is identical across specs keeps the residual
    src2 = spark.createDataFrame([(1, "A"), (2, "B"), (3, "A")],
                                 "id long, flag string")
    t2 = warehouse.create_table("db.pfsame", Schema.from_spark(src2.schema))
    t2.append(src2)  # unpartitioned, mixed flags
    t2 = t2.refresh()
    t2.update_spec("flag")
    t2 = t2.refresh()
    t2.append(spark.createDataFrame([(4, "A"), (5, "B")],
                                    "id long, flag string"))
    t2 = t2.refresh()
    got2 = sorted(r.id for r in
                  t2.new_scan(partition_filter={"flag": "A"})
                  .to_df(spark).collect())
    assert got2 == [1, 3, 4], got2


def test_dml_preserves_renamed_columns_in_old_files(spark, warehouse):
    """delete_rows/update_rows read their working set through the
    table's column binding: files written BEFORE a rename carry the old
    column name, and a current-name-only read NULL-pads the renamed
    column — a CoW rewrite (or MoR update re-append) would then
    permanently wipe its values (code-review r9)."""
    src = spark.createDataFrame([(1, "x1"), (2, "x2"), (3, "x3")],
                                "id long, a string")
    # copy-on-write: the whole affected file is rewritten — any
    # NULL-padding shows up in EVERY surviving row
    t = warehouse.create_table(
        "db.renamedml", Schema.from_spark(src.schema),
        properties={"write.delete.mode": "copy-on-write",
                    "write.update.mode": "copy-on-write"})
    t.append(src.coalesce(1))  # one pre-rename file
    t = t.refresh()
    t.rename_column("a", "b")
    t = t.refresh()
    from icelake_spark.delta import delete_rows, update_rows
    delete_rows(t, spark, "id = 2")
    t = t.refresh()
    got = sorted(tuple(r) for r in t.to_df(spark).collect())
    assert got == [(1, "x1"), (3, "x3")], got  # b survived the rewrite
    update_rows(t, spark, "id = 3", {"id": "30"})
    t = t.refresh()
    got = sorted(tuple(r) for r in t.to_df(spark).collect())
    assert got == [(1, "x1"), (30, "x3")], got
    # condition ON the renamed column matches pre-rename file contents
    update_rows(t, spark, "b = 'x1'", {"b": "'X1'"})
    t = t.refresh()
    got = sorted(tuple(r) for r in t.to_df(spark).collect())
    assert got == [(1, "X1"), (30, "x3")], got

    # merge-on-read lane: the updated copy re-appended by update_rows
    # must carry the old file's renamed-column value, not NULL
    t2 = warehouse.create_table("db.renamedml2", Schema.from_spark(src.schema))
    t2.append(src.coalesce(1))
    t2 = t2.refresh()
    t2.rename_column("a", "b")
    t2 = t2.refresh()
    update_rows(t2, spark, "id = 1", {"id": "10"})
    t2 = t2.refresh()
    got2 = sorted(tuple(r) for r in t2.to_df(spark).collect())
    assert got2 == [(2, "x2"), (3, "x3"), (10, "x1")], got2
