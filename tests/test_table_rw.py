"""End-to-end write→read parity over the reference's 8-scenario test
matrix (/root/reference/testdata/toml/*.toml, FIXTURES.md F1/F2),
checked with exceptAll symmetric difference — the same oracle the
reference uses (/root/reference/testdata/python/check.py:19-26)."""

import datetime as dt
from decimal import Decimal

import pytest

from icelake_spark import IcebergTable
from icelake_spark.types import PartitionField, PartitionSpec, Schema


def _fid(schema, name):
    return schema.field_by_name(name).field_id


# the 8 partition scenarios (insert_tests_v2.rs:280-289)
SCENARIOS = {
    "no_partition": lambda s: (),
    "partition_identity": lambda s: tuple(
        PartitionField(_fid(s, c), 1000 + i, "identity", c)
        for i, c in enumerate(["v_int", "v_long", "v_varchar", "v_bool",
                               "v_date", "v_timestamp", "v_decimal", "v_ts_ntz"])),
    "partition_year": lambda s: tuple(
        PartitionField(_fid(s, c), 1000 + i, "year", f"y_{c}")
        for i, c in enumerate(["v_date", "v_timestamp", "v_ts_ntz"])),
    "partition_month": lambda s: tuple(
        PartitionField(_fid(s, c), 1000 + i, "month", f"m_{c}")
        for i, c in enumerate(["v_date", "v_timestamp", "v_ts_ntz"])),
    "partition_day": lambda s: tuple(
        PartitionField(_fid(s, c), 1000 + i, "day", f"d_{c}")
        for i, c in enumerate(["v_date", "v_timestamp", "v_ts_ntz"])),
    "partition_hour": lambda s: tuple(
        PartitionField(_fid(s, c), 1000 + i, "hour", f"h_{c}")
        for i, c in enumerate(["v_timestamp", "v_ts_ntz"])),
    "partition_hash": lambda s: tuple(
        PartitionField(_fid(s, c), 1000 + i, f"bucket[{n}]", f"b_{c}")
        for i, (c, n) in enumerate([("v_int", 10), ("v_long", 20), ("v_varchar", 50),
                                    ("v_date", 70), ("v_timestamp", 80),
                                    ("v_decimal", 90), ("v_ts_ntz", 100)])),
    "partition_truncate": lambda s: tuple(
        PartitionField(_fid(s, c), 1000 + i, f"truncate[{w}]", f"t_{c}")
        for i, (c, w) in enumerate([("v_int", 10), ("v_long", 100),
                                    ("v_decimal", 1000), ("v_varchar", 2)])),
}


def _same(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _now_plus() -> int:
    import time

    return int(time.time() * 1000) + 1000


@pytest.mark.parametrize("scenario", list(SCENARIOS))
def test_partition_scenarios(spark, warehouse, wide_df, scenario):
    schema = Schema.from_spark(wide_df.schema)
    spec = PartitionSpec(0, SCENARIOS[scenario](schema))
    t = warehouse.create_table(f"db.{scenario}", schema, spec=spec)
    t.append(wide_df)
    back = t.to_df(spark)
    assert _same(back, wide_df)
    # second commit (like the TOML flows: multiple inserts)
    t.append(wide_df)
    assert t.to_df(spark).count() == 10
    # partitions metadata table exists and groups correctly
    parts = t.partitions_df(spark).collect()
    if spec.fields:
        assert all(p.record_count >= 1 for p in parts)


def test_cdc_delta_scenario(prod_plan_conf, warehouse):
    """F2 cdc_kv port (delta_test_v2.rs:101-352): mixed insert/delete
    batches; same-batch duplicates last-win; cross-snapshot deletes
    equality-delete prior rows. Runs on the production plan settings
    (AQE on), under which a commit's equality deletes land in one file."""
    from icelake_spark.delta import OP_APPEND, OP_DELETE, OP_INSERT, merge_delta

    spark = prod_plan_conf

    schema_df = spark.createDataFrame([], "id long, key long, value long")
    schema = Schema.from_spark(schema_df.schema)
    t = warehouse.create_table("db.cdc", schema)

    b1 = spark.createDataFrame(
        [(1, 1, 100, OP_INSERT), (1, 2, 200, OP_INSERT), (1, 2, 201, OP_INSERT)],
        "id long, key long, value long, _op int")
    merge_delta(t, b1, key_cols=["id", "key"])
    rows = {(r.id, r.key): r.value for r in t.to_df(spark).collect()}
    assert rows == {(1, 1): 100, (1, 2): 201}  # same-batch last-wins

    b2 = spark.createDataFrame(
        [(1, 1, 0, OP_DELETE), (1, 3, 300, OP_INSERT), (1, 2, 202, OP_INSERT)],
        "id long, key long, value long, _op int")
    merge_delta(t, b2, key_cols=["id", "key"])
    rows = {(r.id, r.key): r.value for r in t.to_df(spark).collect()}
    assert rows == {(1, 3): 300, (1, 2): 202}  # delete + cross-snapshot upsert

    # delete of a never-inserted key is a no-op
    b3 = spark.createDataFrame([(9, 9, 0, OP_DELETE)],
                               "id long, key long, value long, _op int")
    merge_delta(t, b3, key_cols=["id", "key"])
    assert t.to_df(spark).count() == 2

    # one batch, each fate the keyed window decides for a key
    b4 = spark.createDataFrame(
        [(2, 1, 10, OP_INSERT), (2, 1, 0, OP_DELETE),    # INSERT -> DELETE
         (1, 3, 0, OP_DELETE), (1, 3, 301, OP_INSERT),   # DELETE -> INSERT
         (5, 5, 50, OP_APPEND), (5, 5, 50, OP_APPEND),   # duplicate appends
         (5, 5, 51, OP_APPEND),
         (None, 7, 70, OP_INSERT)],                      # NULL-key insert
        "id long, key long, value long, _op int")
    merge_delta(t, b4, key_cols=["id", "key"])
    t = t.refresh()
    rows = sorted(((r.id, r.key, r.value) for r in t.to_df(spark).collect()),
                  key=str)
    assert rows == sorted([(1, 2, 202), (1, 3, 301), (5, 5, 50), (5, 5, 50),
                           (5, 5, 51), (None, 7, 70)], key=str)
    # one equality-delete row per distinct deleted-or-upserted key, in
    # one file: (2,1) saw a DELETE, (1,3) a DELETE and a last INSERT,
    # (NULL,7) a last INSERT; OP_APPEND keys supersede nothing
    snap = t.current_snapshot()
    assert snap.summary["added-delete-files"] == "1"
    assert snap.summary["added-equality-deletes"] == "3"
    (eq,) = [d for d in t.new_scan().plan_files(spark)[2]
             if d.sequence_number == snap.sequence_number]
    keys = spark.read.parquet(eq.delete_file.file_path).collect()
    assert sorted(((r.id, r.key) for r in keys), key=str) == \
        sorted([(2, 1), (1, 3), (None, 7)], key=str)

    # NULL-key upsert across snapshots: the null-safe key match replaces
    # the prior (NULL,7) row
    b5 = spark.createDataFrame([(None, 7, 71, OP_INSERT)],
                               "id long, key long, value long, _op int")
    merge_delta(t, b5, key_cols=["id", "key"])
    rows = {(r.id, r.key): r.value for r in t.refresh().to_df(spark).collect()
            if r.key == 7}
    assert rows == {(None, 7): 71}


def test_overlapped_dml_jobs_stay_in_callers_job_group(spark, warehouse):
    """merge_delta and merge-on-read delete_rows run independent write
    jobs from driver threads; every job they start must carry the
    caller's job group, or cancelJobGroup cannot reach it."""
    from icelake_spark.delta import (OP_DELETE, OP_INSERT, delete_rows,
                                     merge_delta)

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def last_job_id():
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs = store.jobsList(None)
        if jobs.isEmpty():
            return -1
        return max(jobs.head().jobId(), jobs.last().jobId())

    t = warehouse.create_table("db.groups", Schema.from_spark(
        spark.createDataFrame([], "id long, v string").schema))
    t.append(spark.createDataFrame([(i, "a") for i in range(10)],
                                   "id long, v string"))
    group = "icelake-overlap-test"
    first = last_job_id() + 1
    sc.setJobGroup(group, "overlapped DML")
    try:
        merge_delta(t, spark.createDataFrame(
            [(1, "b", OP_INSERT), (2, None, OP_DELETE)],
            "id long, v string, _op int"), key_cols=["id"])
        delete_rows(t.refresh(), spark, "id = 3")
    finally:
        sc._jsc.clearJobGroup()
    started = set(range(first, last_job_id() + 1))
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    assert started and started <= in_group, sorted(started - in_group)
    assert sorted(r.id for r in t.refresh().to_df(spark).collect()) == \
        [0, 1, 4, 5, 6, 7, 8, 9]


def test_overlap_threads_take_only_the_job_control_properties(spark):
    """Each overlapped thread gets the caller's job group on its own,
    and none of the caller's SQL execution state: inside a foreachBatch
    that state is the micro-batch's execution id, which two concurrent
    writes must not share."""
    from icelake_spark.delta import _overlap

    sc = spark.sparkContext

    def seen():
        return (sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("spark.job.description"),
                sc.getLocalProperty("spark.sql.execution.id"))

    sc.setJobGroup("icelake-overlap-props", "overlapped thunks")
    sc.setLocalProperty("spark.sql.execution.id", "424242")
    try:
        got = _overlap(spark, seen, seen)
    finally:
        sc.setLocalProperty("spark.sql.execution.id", None)
        sc._jsc.clearJobGroup()
    assert got == [("icelake-overlap-props", "overlapped thunks", None)] * 2
    assert seen() == (None, None, None)


def test_upsert(spark, warehouse):
    from icelake_spark.delta import upsert

    src = spark.createDataFrame([(i, i % 3, i * 10) for i in range(9)],
                                "id long, key long, value long")
    schema = Schema.from_spark(src.schema)
    t = warehouse.create_table("db.ups", schema)
    t.append(src)
    upsert(t, spark.createDataFrame([(100, 0, 1)], "id long, key long, value long"),
           key_cols=["key"])
    rows = sorted((r.id, r.key) for r in t.to_df(spark).collect())
    assert (100, 0) in rows
    assert not any(k == 0 and i != 100 for i, k in rows)
    assert len(rows) == 7  # 6 survivors (keys 1,2) + 1 upserted


def test_delete_where_and_compaction(spark, warehouse, wide_df):
    from icelake_spark.maintenance import expire_snapshots, rewrite_data_files

    schema = Schema.from_spark(wide_df.schema)
    t = warehouse.create_table("db.dw", schema)
    t.append(wide_df)
    t.append(wide_df)
    t.delete_where(spark, "id <= 2")
    assert t.to_df(spark).count() == 6
    n = rewrite_data_files(t, spark)
    assert n >= 1
    assert t.to_df(spark).count() == 6
    data, pos, eq = t.new_scan().plan_files()
    assert not pos and not eq
    expired = expire_snapshots(t, older_than_ms=_now_plus(), retain_last=1)
    assert expired == 3
    assert t.to_df(spark).count() == 6
    # reload from disk: metadata durable
    t2 = IcebergTable.load(t.path)
    assert t2.to_df(spark).count() == 6


def test_time_travel_and_refs(spark, warehouse, wide_df):
    schema = Schema.from_spark(wide_df.schema)
    t = warehouse.create_table("db.tt", schema)
    t.append(wide_df)
    s1 = t.current_snapshot().snapshot_id
    ts1 = t.current_snapshot().timestamp_ms
    t.append(wide_df)
    assert t.to_df(spark).count() == 10
    assert t.to_df(spark, snapshot_id=s1).count() == 5
    assert t.to_df(spark, as_of_ms=ts1).count() == 5
    assert t.to_df(spark, ref="main").count() == 10
    assert t.snapshots_df(spark).count() == 2
    assert t.history_df(spark).count() == 2


def test_overwrite_all(spark, warehouse, wide_df):
    schema = Schema.from_spark(wide_df.schema)
    t = warehouse.create_table("db.ow", schema)
    t.append(wide_df)
    small = wide_df.where("id = 1")
    t.overwrite_all(small)
    assert t.to_df(spark).count() == 1
    assert t.current_snapshot().summary["operation"] == "overwrite"


def test_stats_pruning_scan(spark, warehouse):
    src = spark.range(0, 100000).selectExpr("id", "id % 100 as g",
                                            "cast(id as double) as v")
    schema = Schema.from_spark(src.schema)
    t = warehouse.create_table("db.prune", schema)
    # several files so bounds differ: write sorted ranges
    for lo in range(0, 100000, 25000):
        t.append(src.where(f"id >= {lo} and id < {lo + 25000}"))
    scan = t.new_scan(filter="id >= 75000")
    data, _, _ = scan.plan_files()
    alldata, _, _ = t.new_scan().plan_files()
    assert len(data) < len(alldata)
    assert scan.to_df(spark).count() == 25000


def test_register_views_spark_sql(spark, warehouse):
    from icelake_spark.catalog.storage import register_views
    from icelake_spark.types import Schema

    src = spark.range(20).selectExpr("id", "id % 3 as g")
    warehouse.create_table("db.sqlt", Schema.from_spark(src.schema)).append(src)
    views = register_views(warehouse, spark)
    assert "db_sqlt" in views
    got = spark.sql(
        "SELECT g, COUNT(*) AS n FROM db_sqlt GROUP BY g ORDER BY g").collect()
    assert [(r.g, r.n) for r in got] == [(0, 7), (1, 7), (2, 6)]


@pytest.mark.parametrize("op", ["delete", "update"])
def test_position_delete_row_payload(spark, warehouse, tmp_path, op):
    """With write.position-delete.include-row, delete files carry the
    deleted rows' content (spec optional payload) and MoR reads are
    unaffected (the scan never projects it). DELETE and UPDATE share
    one pipeline: on a mixed parquet/ORC table the payload holds only
    the parquet pre-images, and the ORC file (no row positions in
    Spark) is rewritten copy-on-write in the same commit."""
    import os

    src = spark.range(20).selectExpr("id", "cast(id * 2 as double) as v")
    t = warehouse.create_table(
        "db.posrow", Schema.from_spark(src.schema),
        properties={"write.position-delete.include-row": "true"})
    t.append(src.where("id < 10"))
    orc_dir = str(tmp_path / "orc")
    src.where("id >= 10").coalesce(1).write.orc(orc_dir)
    t.add_files([os.path.join(orc_dir, f) for f in os.listdir(orc_dir)
                 if f.startswith("part-") and not f.endswith(".crc")],
                file_format="ORC")
    t = t.refresh()
    before = t.current_snapshot().snapshot_id
    orc_file = next(d.data_file.file_path for d in t.new_scan().plan_files()[0]
                    if d.data_file.file_format == "ORC")
    if op == "delete":
        t.delete_where(spark, "id % 5 = 0")
        want = [(i, i * 2.0) for i in range(20) if i % 5]
    else:
        t.update_where(spark, "id % 5 = 0", {"v": "v + 100"})
        want = [(i, i * 2.0 + (100 if i % 5 == 0 else 0)) for i in range(20)]
    t = t.refresh()
    snap = t.current_snapshot()
    # one commit: the position deletes and the ORC rewrite
    assert snap.parent_snapshot_id == before
    assert snap.summary["operation"] == "overwrite"
    assert snap.summary["deleted-data-files"] == "1"
    data, pos, _ = t.new_scan().plan_files()
    assert orc_file not in {d.data_file.file_path for d in data}
    assert pos
    del_df = spark.read.parquet(*[p.delete_file.file_path for p in pos])
    assert set(del_df.columns) == {"file_path", "pos", "row"}
    payload = sorted((r.row.id, r.row.v) for r in del_df.collect())
    assert payload == [(0, 0.0), (5, 10.0)]
    assert sorted((r.id, r.v) for r in t.to_df(spark).collect()) == want


def test_expire_snapshots_ref_aware(spark, warehouse):
    """Per-ref retention: a tagged snapshot survives expiry while
    unreferenced ones go; a branch keeps min_snapshots_to_keep
    ancestors; a ref past its max_ref_age_ms is itself dropped."""
    from icelake_spark.maintenance import expire_snapshots

    src = spark.range(4).selectExpr("id")
    t = warehouse.create_table("db.exp_refs", Schema.from_spark(src.schema))
    snaps = []
    for i in range(4):
        t.append(src.where(f"id = {i}"))
        t = t.refresh()
        snaps.append(t.current_snapshot().snapshot_id)

    # tag the OLDEST snapshot; branch at 3rd with min 2 ancestors kept;
    # an aged-out ref on the 2nd
    t.create_tag("v1", snapshot_id=snaps[0])
    t.create_ref("dev", "branch", snapshot_id=snaps[2],
                 min_snapshots_to_keep=2)
    t.create_ref("stale", "branch", snapshot_id=snaps[1],
                 max_ref_age_ms=0)  # head is already older than 0ms
    t = t.refresh()

    expired = expire_snapshots(t, older_than_ms=_now_plus(), retain_last=1)
    t = t.refresh()
    kept = {s.snapshot_id for s in t.metadata.snapshots}
    assert snaps[0] in kept          # tag head survives
    assert snaps[2] in kept and snaps[1] in kept  # branch head + 1 ancestor
    assert snaps[3] in kept          # current/main
    assert "stale" not in t.metadata.refs  # aged-out ref removed
    assert expired == 0              # everything was retained by some rule

    # drop the tag → its snapshot becomes expirable
    t.drop_ref("v1")
    t = t.refresh()
    expired = expire_snapshots(t, older_than_ms=_now_plus(), retain_last=1)
    t = t.refresh()
    assert expired >= 1
    assert snaps[0] not in {s.snapshot_id for s in t.metadata.snapshots}
    # the table still reads fine
    assert t.to_df(spark).count() == 4


def test_cow_delete_keeps_null_condition_rows(spark, warehouse):
    """SQL DELETE keeps rows where the condition is NULL — the CoW
    rewrite must not silently drop them (review r2 finding)."""
    src = spark.createDataFrame([(1, 10.0), (2, None), (3, 2.0)],
                                "id long, v double")
    t = warehouse.create_table(
        "db.nullcond", Schema.from_spark(src.schema),
        properties={"write.delete.mode": "copy-on-write"})
    t.append(src)
    t.delete_where(spark, "v > 5")
    rows = sorted((r.id, r.v) for r in t.refresh().to_df(spark).collect())
    assert rows == [(2, None), (3, 2.0)], rows


def test_relocated_table_still_applies_deletes(spark, warehouse, tmp_path):
    """Copy a MoR table to a NEW directory and read it from there: the
    delete-file CONTENT records writer-era absolute paths, so the
    position-delete match must be location-independent — a relocated
    table used to silently resurrect deleted rows (review r3)."""
    import shutil

    from icelake_spark.table import IcebergTable
    from icelake_spark.types import Schema

    src = spark.range(100).selectExpr("id")
    t = warehouse.create_table("db.reloc", Schema.from_spark(src.schema))
    t.append(src)
    t.delete_where(spark, "id < 30")
    t = t.refresh()
    assert t.to_df(spark).count() == 70

    moved = str(tmp_path / "relocated_copy")
    shutil.copytree(t.path, moved)
    t2 = IcebergTable.load(moved)
    assert t2.to_df(spark).count() == 70  # deletes still applied
    # the DSv2 reader path agrees
    import icelake_spark.datasource as ds
    ds.register(spark)
    got = (spark.read.format("icelake").option("path", moved).load().count())
    assert got == 70
    # upsert (equality deletes) also survives relocation
    t2.upsert(spark.range(5).selectExpr("id + 1000 as id"), key_cols=["id"])
    t2 = IcebergTable.load(moved)
    moved2 = str(tmp_path / "relocated_twice")
    shutil.copytree(moved, moved2)
    assert IcebergTable.load(moved2).to_df(spark).count() == 75


def test_nested_types_roundtrip_with_mor_deletes(spark, warehouse):
    """struct+list+map columns through the full table layer: schema
    JSON/Avro conversion, append, MoR position-delete, equality-delete
    upsert, and a post-delete read that matches row-by-row."""
    from icelake_spark.delta import upsert

    src = spark.range(100).selectExpr(
        "id",
        "named_struct('a', cast(id as string), 'b', id * 2) as info",
        "array(id, id + 1, id + 2) as xs",
        "map('k', id) as m")
    t = warehouse.create_table("db.nested", Schema.from_spark(src.schema))
    t.append(src)

    # MoR position delete on a table carrying nested columns
    t.delete_where(spark, "id % 10 = 0")
    back = t.to_df(spark)
    assert back.count() == 90
    r = back.where("id = 7").collect()[0]
    assert r.info.a == "7" and r.info.b == 14
    assert r.xs == [7, 8, 9] and r.m == {"k": 7}

    # equality-delete upsert replaces nested payloads
    up = spark.range(5, 8).selectExpr(
        "id",
        "named_struct('a', 'upd', 'b', cast(-1 as bigint)) as info",
        "array(cast(0 as bigint)) as xs",
        "map('k', cast(-1 as bigint)) as m")
    upsert(t, up, key_cols=["id"])
    rows = {r.id: r for r in t.to_df(spark).collect()}
    assert len(rows) == 90
    assert rows[6].info.a == "upd" and rows[6].xs == [0]
    assert rows[9].info.a == "9" and rows[9].m == {"k": 9}


@pytest.mark.parametrize("mode", ["merge-on-read", "copy-on-write"])
def test_row_level_dml_prunes_files_by_condition(spark, warehouse,
                                                 monkeypatch, mode):
    """DELETE and UPDATE plan with the condition as a zone-map filter:
    of two files with disjoint id ranges, only the one whose bounds can
    match is read, and the rows come out as without pruning."""
    import icelake_spark.table as table_mod
    from icelake_spark.delta import delete_rows, update_rows

    src = spark.range(200).selectExpr("id", "id * 10 as v")
    t = warehouse.create_table("db.dmlprune", Schema.from_spark(src.schema))
    t.set_properties({"write.delete.mode": mode, "write.update.mode": mode})
    t.append(src.where("id < 100").coalesce(1))
    (low,) = [d.data_file.file_path
              for d in t.refresh().new_scan().plan_files()[0]]
    t.append(src.where("id >= 100").coalesce(1))
    t = t.refresh()

    seen: set = set()
    real = table_mod.read_data_files

    def spy(spark_, schema, tasks, **kw):
        seen.update(x.data_file.file_path for x in tasks)
        return real(spark_, schema, tasks, **kw)

    monkeypatch.setattr(table_mod, "read_data_files", spy)
    delete_rows(t, spark, "id >= 110 AND id < 120")
    assert len(seen) == 1 and low not in seen, seen
    seen.clear()
    update_rows(t.refresh(), spark, "id >= 130 AND id < 135", {"v": "v + 1"})
    assert len(seen) == 1 and low not in seen, seen

    monkeypatch.undo()
    got = sorted((r.id, r.v) for r in t.refresh().to_df(spark).collect())
    want = sorted((i, i * 10 + (1 if 130 <= i < 135 else 0))
                  for i in range(200) if not 110 <= i < 120)
    assert got == want
