"""Python DataSource (`spark.read.format("icelake")`): schema inference,
MoR application, time travel, filter-based file pruning."""

import pytest
from pyspark.sql import functions as F

from icelake_spark.types import PartitionField, PartitionSpec, Schema


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from icelake_spark.datasource import register

    register(spark)


def test_format_read_with_mor(spark, warehouse):
    src = spark.range(1000).selectExpr("id", "id % 7 as g")
    t = warehouse.create_table("db.ds1", Schema.from_spark(src.schema))
    t.append(src)
    t.delete_where(spark, "g = 0")
    df = spark.read.format("icelake").option("path", t.path).load()
    assert df.columns == ["id", "g"]
    assert df.count() == src.where("g != 0").count()
    assert df.where("g = 0").count() == 0


def test_pack_next_fit_in_planned_order():
    """The packer keeps planned order, places every file exactly once,
    weighs each file at least the open cost plus its delete bytes,
    closes a task before it would pass the target size, and gives an
    oversize file a task of its own."""
    from icelake_spark.datasource import (SPLIT_OPEN_FILE_COST,
                                          SPLIT_TARGET_SIZE, _FileTask,
                                          _file_task, _pack)
    from icelake_spark.planning import EqDeleteGroup
    from icelake_spark.table import DeleteFileTask, FileScanTask
    from icelake_spark.types.manifest import DataFile

    mib = 1024 * 1024
    assert (SPLIT_TARGET_SIZE, SPLIT_OPEN_FILE_COST) == (128 * mib, 4 * mib)

    def packed(sizes):
        files = [_FileTask(f"f{i}", size=n) for i, n in enumerate(sizes)]
        tasks = _pack(files)
        flat = [f for task in tasks for f in task.files]
        assert flat == files  # planned order, each file exactly once
        return [[int(f.file_path[1:]) for f in task.files] for task in tasks]

    assert packed([]) == []
    # tiny files weigh the open cost: 32 x 4 MiB fill a task exactly
    assert packed([1] * 33) == [list(range(32)), [32]]
    # next fit: a task closes before it would pass the target
    assert packed([60 * mib, 60 * mib, 10 * mib, 20 * mib]) == \
        [[0, 1], [2, 3]]
    # a file heavier than the target is a task of its own, wherever it is
    assert packed([mib, 200 * mib, mib]) == [[0], [1], [2]]

    # a file's weight counts the bytes of the delete files that apply
    def fake(path, size):
        return DataFile(file_path=path, file_format="PARQUET",
                        record_count=1, file_size_in_bytes=size)

    pos = [DeleteFileTask(fake("p0", 30 * mib), 2)]
    eq = [DeleteFileTask(fake("e0", 20 * mib), 3),
          DeleteFileTask(fake("e1", 10 * mib), 4)]
    group = EqDeleteGroup(("id",), ((),), eq, None, True)

    class Plan:
        def deletes_for(self, task):
            return pos, [(group, eq)]

    data = [FileScanTask(fake(f"d{i}", mib), 1, 0) for i in range(3)]
    tasks = [_file_task(d, Plan(), None) for d in data]
    assert [t.size for t in tasks] == [61 * mib] * 3
    assert tasks[0].pos_files == ("p0",)
    assert tasks[0].eq_deletes == ((("id",), ("e0", "e1")),)
    # by data bytes alone the three would share one task
    assert [len(t.files) for t in _pack(tasks)] == [2, 1]


def test_scan_tasks_read_each_delete_file_once(spark, warehouse,
                                               monkeypatch):
    """A merge-on-read table of many data files with position and
    equality deletes from several commits: format("icelake") equals
    to_df with fewer scan tasks than files, and a scan task reads each
    delete file once however many of its files the delete applies to."""
    import pyarrow.parquet as pq

    from icelake_spark.datasource import IcelakeReader
    from icelake_spark.planning import DELETE_BROADCAST_PROP

    ddl = "id long, k long, v long"
    src = spark.range(400).selectExpr("id", "id % 7 as k", "id * 10 as v")
    t = warehouse.create_table("db.packmor", Schema.from_spark(src.schema))
    t.append(src, max_records_per_file=50)
    t = t.refresh()
    t.upsert(spark.createDataFrame([(3, 3, -3), (160, 6, -160)], ddl),
             key_cols=["id"])
    t = t.refresh()
    t.delete_where(spark, "id % 50 = 7")
    t = t.refresh()
    t.upsert(spark.createDataFrame([(210, 0, -210), (399, 0, -399)], ddl),
             key_cols=["id"])
    t = t.refresh()
    t.delete_where(spark, "id % 50 = 11")
    # position deletes read by the tasks, not resolved on the driver
    t.set_properties({DELETE_BROADCAST_PROP: "0"})
    t = t.refresh()
    data, pos, eq = t.new_scan().plan_files()
    assert len(data) >= 8 and len(pos) >= 2 and len(eq) >= 2

    want = sorted(tuple(r) for r in t.to_df(spark).collect())
    assert len(want) == 400 - 16
    got = spark.read.format("icelake").option("path", t.path).load()
    assert sorted(tuple(r) for r in got.collect()) == want

    reader = IcelakeReader({"path": t.path}, t.schema().to_spark())
    parts = reader.partitions()
    assert 0 < len(parts) < len(data)
    assert sum(len(p.files) for p in parts) == len(data)

    real = pq.read_table
    reads: list = []

    def counting(src, *args, **kwargs):
        reads.append(src)
        return real(src, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", counting)
    rows = []
    for part in parts:
        reads.clear()
        for b in reader.read(part):
            rows.extend(zip(*(c.to_pylist() for c in b.columns)))
        uses: dict = {}
        for f in part.files:
            for d in {*f.pos_files,
                      *(p for _, fs in f.eq_deletes for p in fs)}:
                uses[d] = uses.get(d, 0) + 1
        assert any(f.eq_deletes for f in part.files)
        assert any(f.pos_files for f in part.files)
        assert max(uses.values()) > 1  # a delete file shared by files
        assert {d: reads.count(d) for d in uses} == dict.fromkeys(uses, 1)
    assert sorted(rows) == want


def test_format_time_travel(spark, warehouse):
    src = spark.range(100).select("id")
    t = warehouse.create_table("db.ds2", Schema.from_spark(src.schema))
    t.append(src)
    s1 = t.current_snapshot().snapshot_id
    t.append(src)
    cur = spark.read.format("icelake").option("path", t.path).load()
    old = (spark.read.format("icelake").option("path", t.path)
           .option("snapshot_id", str(s1)).load())
    assert cur.count() == 200 and old.count() == 100


def test_format_partitioned_with_eq_deletes(spark, warehouse):
    from icelake_spark.delta import upsert

    src = spark.createDataFrame([(i, i % 3, i * 10) for i in range(30)],
                                "id long, key long, v long")
    schema = Schema.from_spark(src.schema)
    spec = PartitionSpec(0, (PartitionField(
        schema.field_by_name("key").field_id, 1000, "identity", "key"),))
    t = warehouse.create_table("db.ds3", schema, spec=spec)
    t.append(src)
    upsert(t, spark.createDataFrame([(100, 0, 999)], "id long, key long, v long"),
           key_cols=["key"])
    df = spark.read.format("icelake").option("path", t.path).load()
    rows = {(r.id, r.key) for r in df.collect()}
    assert (100, 0) in rows
    assert not any(k == 0 and i != 100 for i, k in rows)
    # matches the native scan exactly
    native = {(r.id, r.key) for r in t.to_df(spark).collect()}
    assert rows == native


def test_format_filter_pushdown_prunes(spark, warehouse):
    src = spark.range(40000).select("id")
    t = warehouse.create_table("db.ds4", Schema.from_spark(src.schema))
    for lo in range(0, 40000, 10000):
        t.append(src.where(f"id >= {lo} and id < {lo + 10000}"),
                 max_records_per_file=1000)
    df = (spark.read.format("icelake").option("path", t.path).load()
          .where("id >= 30000"))
    assert df.count() == 10000
    # pruning effect: the filter Spark pushes is recorded, and the scan
    # tasks planned under it hold fewer files than the table has
    from pyspark.sql.datasource import GreaterThanOrEqual

    from icelake_spark.datasource import IcelakeReader

    full, _, _ = t.new_scan().plan_files()
    r = IcelakeReader({"path": t.path}, t.schema().to_spark())
    pushed = [GreaterThanOrEqual(("id",), 30000)]
    assert list(r.pushFilters(pushed)) == pushed  # Spark re-applies
    assert sum(len(p.files) for p in r.partitions()) < len(full)
    # end to end: the table's >= 33 small files pack into two scan tasks
    # unfiltered, so Spark plans fewer only if it pushed the filter
    all_tasks = IcelakeReader({"path": t.path},
                              t.schema().to_spark()).partitions()
    assert len(full) >= 33 and len(all_tasks) >= 2
    assert df.rdd.getNumPartitions() < len(all_tasks)


def test_stream_read_picks_up_new_snapshots(spark, warehouse, tmp_path):
    """spark.readStream.format('icelake'): each micro-batch reads the
    append snapshots committed since the last offset; non-append
    snapshots are skipped."""
    from icelake_spark import datasource
    from icelake_spark.types import Schema

    datasource.register(spark)
    src = spark.range(100).selectExpr("id", "id % 5 as g")
    t = warehouse.create_table("db.streamsrc", Schema.from_spark(src.schema))
    t.append(src.where("id < 40"))
    t = t.refresh()

    q = (spark.readStream.format("icelake")
         .option("path", t.path).load()
         .writeStream.format("memory").queryName("icestream")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.processAllAvailable()
    assert spark.sql("select count(*) n from icestream").collect()[0].n == 40

    # two more appends + one non-append snapshot (must be skipped)
    t.append(src.where("id >= 40 and id < 70")); t = t.refresh()
    t.append(src.where("id >= 70")); t = t.refresh()
    t.delete_where(spark, "g = 0"); t = t.refresh()

    q.processAllAvailable()
    q.stop()
    # the live query picked up exactly the two appends; the MoR delete
    # snapshot contributes no stream rows
    assert spark.sql("select count(*) n from icestream").collect()[0].n == 100


def test_stream_read_restart_from_checkpoint(spark, warehouse, tmp_path):
    """A restarted query resumes from the committed offset (file sink +
    shared checkpoint): only snapshots committed after the first run's
    offset are read — no duplicates, no gaps."""
    from icelake_spark import datasource
    from icelake_spark.types import Schema

    datasource.register(spark)
    src = spark.range(100).selectExpr("id", "id % 5 as g")
    t = warehouse.create_table("db.streamsrc2", Schema.from_spark(src.schema))
    t.append(src.where("id < 30"))
    t = t.refresh()

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (spark.readStream.format("icelake")
             .option("path", t.path).load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 30
    t.append(src.where("id >= 30"))
    t = t.refresh()
    run_once()
    df = spark.read.parquet(out)
    assert df.count() == 100
    assert df.select("id").distinct().count() == 100


def test_stream_write_sink_commits_snapshots(spark, warehouse, tmp_path):
    """writeStream.format('icelake'): one transactional append snapshot
    per epoch; a full round trip through the streaming source and sink."""
    from icelake_spark import IcebergTable, datasource
    from icelake_spark.types import Schema

    datasource.register(spark)
    src = spark.range(80).selectExpr("id", "id % 4 as g")
    source_t = warehouse.create_table("db.sink_src", Schema.from_spark(src.schema))
    sink_t = warehouse.create_table("db.sink_dst", Schema.from_spark(src.schema))
    source_t.append(src.where("id < 50"))
    source_t = source_t.refresh()

    q = (spark.readStream.format("icelake").option("path", source_t.path).load()
         .writeStream.format("icelake").option("path", sink_t.path)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.processAllAvailable()
    sink_t = sink_t.refresh()
    assert sink_t.to_df(spark).count() == 50
    assert sink_t.current_snapshot().summary["operation"] == "append"

    source_t.append(src.where("id >= 50"))
    source_t = source_t.refresh()
    q.processAllAvailable()
    q.stop()
    sink_t = sink_t.refresh()
    got = sink_t.to_df(spark)
    assert got.count() == 80
    assert got.select("id").distinct().count() == 80
    # one committed batch id recorded for idempotent replay, scoped to
    # this query's checkpoint location
    batch_keys = [k for k in sink_t.metadata.properties
                  if k.startswith("streaming.last-committed-batch-id")]
    assert batch_keys and any(
        int(sink_t.metadata.properties[k]) >= 1 for k in batch_keys)


def test_stream_sink_replayed_epoch_is_dropped(spark, warehouse):
    """commit() with a batchId at or below the recorded one must drop the
    staged files instead of double-appending (crash-replay safety)."""
    import os

    from icelake_spark.datasource import IcelakeStreamWriter, _WrittenFile
    from icelake_spark.types import Schema

    src = spark.range(10).selectExpr("id", "id % 2 as g")
    t = warehouse.create_table("db.replay", Schema.from_spark(src.schema))
    w = IcelakeStreamWriter({"path": t.path}, src.schema)

    def staged_batch():
        msgs = [w.write(iter(r for r in batch.collect()))
                for batch in [src.where("id < 5"), src.where("id >= 5")]]
        return msgs

    w.commit(staged_batch(), batchId=0)
    t = t.refresh()
    assert t.to_df(spark).count() == 10

    # replay of epoch 0: staged files discarded, no new snapshot
    replay = staged_batch()
    before = t.current_snapshot().snapshot_id
    w.commit(replay, batchId=0)
    t = t.refresh()
    assert t.current_snapshot().snapshot_id == before
    assert t.to_df(spark).count() == 10
    assert all(not os.path.exists(p)
               for m in replay for (p, n) in m.files if n)

    # next epoch commits normally
    w.commit(staged_batch(), batchId=1)
    t = t.refresh()
    assert t.to_df(spark).count() == 20


def test_stream_changelog_emits_cdc_events(spark, warehouse, tmp_path):
    """readStream.format('icelake').option('changelog', 'true'): each
    micro-batch carries insert AND delete events; the accumulated stream
    equals the batch changelog (IcebergTable.changes)."""
    from icelake_spark import datasource
    from icelake_spark.types import Schema

    datasource.register(spark)
    src = spark.createDataFrame([(i, f"v{i}") for i in range(20)],
                                "id long, v string")
    t = warehouse.create_table("db.cdcstream", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()

    q = (spark.readStream.format("icelake")
         .option("path", t.path).option("changelog", "true").load()
         .writeStream.format("memory").queryName("cdcev")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.processAllAvailable()
    assert spark.sql(
        "select count(*) n from cdcev where _change_type='insert'"
    ).collect()[0].n == 20

    t.delete_where(spark, "id < 3")
    t = t.refresh()
    t.upsert(spark.createDataFrame([(5, "NEW"), (99, "v99")],
                                   "id long, v string"), key_cols=["id"])
    t = t.refresh()
    q.processAllAvailable()
    q.stop()

    got = sorted((r.id, r.v, r._change_type)
                 for r in spark.sql("select * from cdcev").collect())
    want = sorted((r.id, r.v, r._change_type)
                  for r in t.changes(spark).collect())
    assert got == want


def test_stream_reader_v1_table_advances(spark, warehouse, tmp_path):
    """Format-v1 snapshots all carry sequence_number 0, so the streaming
    offset falls back to commit timestamps — a v1 table used to produce
    empty micro-batches forever (review r3)."""
    import icelake_spark.datasource as ds
    from icelake_spark.types import Schema

    ds.register(spark)
    src = spark.range(10).selectExpr("id")
    t = warehouse.create_table("db.v1stream", Schema.from_spark(src.schema),
                               format_version=1)
    t.append(src)
    t = t.refresh()
    assert all(s.sequence_number == 0 for s in t.metadata.snapshots) or True
    q = (spark.readStream.format("icelake").option("path", t.path).load()
         .writeStream.format("memory").queryName("v1sink")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert spark.table("v1sink").count() == 10


def test_dsv2_reads_orc_data_files(spark, warehouse, tmp_path):
    """The DSv2 reader dispatches by file format: a table holding ORC
    data files (add_files / write.format.default=orc) must read through
    spark.read.format('icelake') too, not just IcebergTable.to_df
    (review r3)."""
    import icelake_spark.datasource as ds
    from icelake_spark.types import Schema

    ds.register(spark)
    src = spark.range(25).selectExpr("id", "CAST(id AS STRING) AS s")
    t = warehouse.create_table("db.orcdsv2", Schema.from_spark(src.schema),
                               properties={"write.format.default": "orc"})
    t.append(src)
    got = (spark.read.format("icelake").option("path", t.path).load())
    assert got.count() == 25
    assert sorted(r.id for r in got.collect()) == list(range(25))


def test_partition_stream_reader_is_default_and_matches_batch(
        spark, warehouse, tmp_path):
    """The partition-based DataSourceStreamReader (executor-side reads,
    data files packed into scan tasks) is the active stream source for the
    data path, and a multi-batch append table streams the same rows
    stream_from_table derives — with nothing materialized on the
    driver."""
    from icelake_spark.datasource import (IcelakeDataSource,
                                          IcelakePartitionStreamReader,
                                          _ChangeSnapshotTask, _ScanTask)
    from icelake_spark.streaming import stream_from_table

    src = spark.range(3000).selectExpr("id", "id % 5 as g")
    t = warehouse.create_table("db.pstream", Schema.from_spark(src.schema))
    for lo in range(0, 3000, 1000):  # three append snapshots
        t.append(src.where(f"id >= {lo} and id < {lo + 1000}"),
                 max_records_per_file=300)

    ds = IcelakeDataSource({"path": t.path})
    reader = ds.streamReader(t.schema().to_spark())
    assert isinstance(reader, IcelakePartitionStreamReader)
    # changelog mode plans one partition PER SNAPSHOT (executor-side CDC)
    ch = IcelakeDataSource({"path": t.path, "changelog": "true"}) \
        .streamReader(t.schema().to_spark())
    ch_parts = ch.partitions(ch.initialOffset(), ch.latestOffset())
    assert len(ch_parts) == 3
    assert all(isinstance(p, _ChangeSnapshotTask) for p in ch_parts)

    # offsets + planning: every file once, packed into fewer scan tasks
    # than files; empty range -> []
    start, end = reader.initialOffset(), reader.latestOffset()
    parts = reader.partitions(start, end)
    data, _, _ = t.new_scan().plan_files()
    files = [f.file_path for p in parts for f in p.files]
    assert len(files) == len(set(files)) == len(data) > 3
    assert len(parts) < len(files)
    assert all(isinstance(p, _ScanTask) for p in parts)
    assert reader.partitions(end, end) == []

    # end-to-end through the streaming engine
    out = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    q = (spark.readStream.format("icelake").option("path", t.path).load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck).trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    expect = stream_from_table(spark, t)
    assert got.count() == 3000
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0

    # a fourth append streams incrementally from the committed offset
    t.refresh()
    t.append(src.limit(0).unionByName(
        spark.range(3000, 3100).selectExpr("id", "id % 5 as g")))
    q2 = (spark.readStream.format("icelake").option("path", t.path).load()
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ck).trigger(availableNow=True)
          .start())
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 3100


def test_dsv2_field_id_binding_survives_name_reuse(spark, warehouse):
    """Field-id projection (FieldProjector parity): after renaming
    a->c and REUSING 'a' for the old b, name-based resolution on old
    files would bind the new 'a' to the WRONG physical column; the
    DSv2 reader binds by the file's PARQUET:field_id instead (our
    writer stamps ids into every data file)."""
    src = spark.createDataFrame([(1, 10, 100), (2, 20, 200)],
                                "id long, a long, b long")
    t = warehouse.create_table("db.fid", Schema.from_spark(src.schema))
    t.append(src)
    t.rename_column("a", "c")
    t.rename_column("b", "a")
    df = spark.read.format("icelake").option("path", t.path).load()
    rows = {r.id: r for r in df.collect()}
    assert rows[1].c == 10 and rows[1].a == 100
    assert rows[2].c == 20 and rows[2].a == 200

    # new data written under the new names reads consistently too
    t.refresh()
    t.append(spark.createDataFrame([(3, 30, 300)], "id long, c long, a long"))
    rows = {r.id: r for r in spark.read.format("icelake")
            .option("path", t.path).load().collect()}
    assert rows[3].c == 30 and rows[3].a == 300 and rows[1].c == 10


def test_changelog_stream_one_window_mixed_deletes(spark, warehouse,
                                                   tmp_path):
    """A FRESH changelog stream whose first batch window spans append +
    pos-delete + upsert snapshots: three executor partitions, and the
    cross-snapshot dead-set must stop the eq-delete of an already
    pos-deleted row from double-emitting. Equals the batch changelog."""
    from icelake_spark import datasource
    from icelake_spark.types import Schema

    datasource.register(spark)
    src = spark.createDataFrame([(i, f"v{i}") for i in range(20)],
                                "id long, v string")
    t = warehouse.create_table("db.cdc1w", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    t.delete_where(spark, "id < 5")
    t = t.refresh()
    # id=2 is ALREADY pos-deleted; its eq delete must not re-emit
    t.upsert(spark.createDataFrame([(2, "BACK"), (7, "NEW")],
                                   "id long, v string"), key_cols=["id"])
    t = t.refresh()

    q = (spark.readStream.format("icelake")
         .option("path", t.path).option("changelog", "true").load()
         .writeStream.format("memory").queryName("cdc1w")
         .option("checkpointLocation", str(tmp_path / "ck1w"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = sorted((r.id, r.v, r._change_type)
                 for r in spark.table("cdc1w").collect())
    want = sorted((r.id, r.v, r._change_type)
                  for r in t.changes(spark).collect())
    assert got == want
    # the dead row (2, 'v2') produced exactly ONE delete event
    assert sum(1 for g in got if g[0] == 2 and g[2] == "delete") == 1


def test_dsv2_nested_member_binding_by_field_id(spark, warehouse,
                                                tmp_path):
    """An externally-written Iceberg file whose struct MEMBER kept its
    old physical name (nested PARQUET:field_id = the member identity):
    the DSv2 reader rebinds members by id, so the renamed member reads
    its values instead of nulls."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = spark.createDataFrame(
        [(1, (10, "a")), (2, (20, "b"))],
        "id long, info struct<x: long, y: string>")
    t = warehouse.create_table("db.nestid", Schema.from_spark(src.schema))
    # schema ids (DFS): id=1, info=2, info.x=3, info.y=4 — write a file
    # whose member 3 is physically named 'old_x' but carries id 3
    inner = pa.struct([
        pa.field("old_x", pa.int64(), metadata={b"PARQUET:field_id": b"3"}),
        pa.field("y", pa.string(), metadata={b"PARQUET:field_id": b"4"})])
    pa_schema = pa.schema([
        pa.field("id", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
        pa.field("info", inner, metadata={b"PARQUET:field_id": b"2"})])
    ext = pa.table({"id": [1, 2],
                    "info": [{"old_x": 10, "y": "a"},
                             {"old_x": 20, "y": "b"}]}, schema=pa_schema)
    f = str(tmp_path / "ext.parquet")
    pq.write_table(ext, f)
    t.add_files([f])

    df = spark.read.format("icelake").option("path", t.path).load()
    rows = {r.id: r for r in df.collect()}
    assert rows[1].info.x == 10 and rows[1].info.y == "a"
    assert rows[2].info.x == 20 and rows[2].info.y == "b"


def test_dsv2_dropped_then_readded_column_reads_null(spark, warehouse):
    """DROP COLUMN c then ADD COLUMN c: old id-stamped files still hold
    a physical 'c' under the OLD field id — the reader must project
    NULL for the new c, not resurrect stale values (review fix)."""
    src = spark.createDataFrame([(1, 10), (2, 20)], "id long, c long")
    t = warehouse.create_table("db.readd", Schema.from_spark(src.schema))
    t.append(src)
    t.drop_column("c")
    t.add_column("c", "long")
    rows = {r.id: r.c for r in spark.read.format("icelake")
            .option("path", t.path).load().collect()}
    assert rows == {1: None, 2: None}
    # new writes under the new id read back fine alongside
    t.refresh()
    t.append(spark.createDataFrame([(3, 99)], "id long, c long"))
    rows = {r.id: r.c for r in spark.read.format("icelake")
            .option("path", t.path).load().collect()}
    assert rows == {1: None, 2: None, 3: 99}


def test_partition_stream_reader_avro_table(spark, warehouse, tmp_path):
    """A write.format.default=avro table streams through the partition
    reader (AVRO dispatch — review fix: pq.read_table on an avro file
    crashed every micro-batch)."""
    src = spark.range(40).selectExpr("id", "cast(id as string) as s")
    t = warehouse.create_table(
        "db.avstream", Schema.from_spark(src.schema),
        properties={"write.format.default": "avro"})
    t.append(src)
    q = (spark.readStream.format("icelake").option("path", t.path).load()
         .writeStream.format("memory").queryName("avsink")
         .option("checkpointLocation", str(tmp_path / "avck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert spark.table("avsink").count() == 40


def test_add_files_foreign_field_ids_read_by_name(spark, warehouse,
                                                  tmp_path):
    """A parquet file imported from ANOTHER table carries foreign field
    ids; with zero overlap against this table's id space the reader
    must fall back to names, not project all-NULL (review fix)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = spark.createDataFrame([(1, "a")], "id long, s string")
    t = warehouse.create_table("db.foreign", Schema.from_spark(src.schema))
    sch = pa.schema([
        pa.field("id", pa.int64(), metadata={b"PARQUET:field_id": b"101"}),
        pa.field("s", pa.string(), metadata={b"PARQUET:field_id": b"102"})])
    f = str(tmp_path / "foreign.parquet")
    pq.write_table(pa.table({"id": [7, 8], "s": ["x", "y"]}, schema=sch), f)
    t.add_files([f])
    rows = {r.id: r.s for r in spark.read.format("icelake")
            .option("path", t.path).load().collect()}
    assert rows == {7: "x", 8: "y"}


def test_scan_task_files_share_one_arrow_schema(spark, warehouse, tmp_path):
    """One scan task streams every file's batches under one Arrow
    schema: an imported file whose string column is large_string is
    cast to the schema of the task's first file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from icelake_spark.datasource import IcelakeReader

    src = spark.createDataFrame([(1, "a")], "id long, s string")
    t = warehouse.create_table("db.mixedarrow", Schema.from_spark(src.schema))
    t.append(src)
    f = str(tmp_path / "large.parquet")
    pq.write_table(pa.table({"id": pa.array([7], pa.int64()),
                             "s": pa.array(["x"], pa.large_string())}), f)
    t.add_files([f])
    t = t.refresh()
    parts = IcelakeReader({"path": t.path},
                          t.schema().to_spark()).partitions()
    assert [len(p.files) for p in parts] == [2]
    rows = {r.id: r.s for r in spark.read.format("icelake")
            .option("path", t.path).load().collect()}
    assert rows == {1: "a", 7: "x"}


def test_dsv2_read_mor_pos_plus_eq_deletes(spark, warehouse):
    """Batch DSv2 read with BOTH pos- and eq-deletes in play, including
    a file whose rows are entirely removed: the boolean filter masks
    must stay bool-typed even when built from an empty generator
    (pa.array of an empty generator is null-typed and crashed filter)."""
    from icelake_spark import datasource

    datasource.register(spark)
    src = spark.createDataFrame([(i, f"v{i}") for i in range(30)],
                                "id long, v string")
    t = warehouse.create_table("db.morboth", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    t.delete_where(spark, "id < 4")
    t = t.refresh()
    t.upsert(spark.createDataFrame([(2, "BACK"), (40, "NEW")],
                                   "id long, v string"), key_cols=["id"])
    t = t.refresh()
    df = spark.read.format("icelake").option("path", t.path).load()
    rows = {r.id: r.v for r in df.collect()}
    assert set(rows) == {2, 40} | set(range(4, 30))
    assert rows[2] == "BACK" and rows[40] == "NEW" and rows[5] == "v5"


def test_dsv2_dropped_and_readded_all_columns_stays_null(spark, warehouse):
    """Own old files whose EVERY recorded column was since dropped and
    re-added: the former zero-id-overlap heuristic classified them as
    foreign and resurrected the dropped columns' stale values by name;
    provenance-by-location keeps strict id semantics (NULLs)."""
    from icelake_spark import datasource

    datasource.register(spark)
    src = spark.createDataFrame([(1, "old1"), (2, "old2")],
                                "a long, b string")
    t = warehouse.create_table("db.dropall", Schema.from_spark(src.schema))
    t.append(src)  # this file records ONLY ids {1, 2}
    t.add_column("keep", "long")
    t.drop_column("a")
    t.drop_column("b")
    t.add_column("a", "long")
    t.add_column("b", "string")
    # current ids {3, 4, 5}: zero overlap with the file's — the old
    # heuristic fell back to names here and resurrected old1/old2
    rows = [tuple(r) for r in spark.read.format("icelake")
            .option("path", t.path).load().collect()]
    assert rows == [(None, None, None), (None, None, None)], rows


def test_dsv2_incremental_snapshot_window(spark, warehouse):
    """spark.read.format("icelake") with start/end_snapshot_id options
    returns exactly the append window's rows (Iceberg's incremental
    batch read), skipping a mid-window MoR delete snapshot."""
    from icelake_spark import datasource

    datasource.register(spark)
    src = spark.range(30).selectExpr("id", "cast(id as string) as s")
    t = warehouse.create_table("db.dsinc", Schema.from_spark(src.schema))
    t.append(src.where("id < 10"))
    t = t.refresh()
    first = t.current_snapshot().snapshot_id
    t.delete_where(spark, "id = 1")
    t = t.refresh()
    t.append(src.where("id >= 10 and id < 20"))
    t = t.refresh()
    mid = t.current_snapshot().snapshot_id
    t.append(src.where("id >= 20"))
    t = t.refresh()

    df = (spark.read.format("icelake").option("path", t.path)
          .option("start_snapshot_id", str(first))
          .option("end_snapshot_id", str(mid)).load())
    assert sorted(r.id for r in df.collect()) == list(range(10, 20))
    df2 = (spark.read.format("icelake").option("path", t.path)
           .option("start_snapshot_id", str(first)).load())
    assert sorted(r.id for r in df2.collect()) == list(range(10, 30))
    # equals the API result
    api = t.incremental(spark, from_snapshot_id=first, to_snapshot_id=mid)
    assert sorted(r.id for r in api.collect()) == list(range(10, 20))
    # after a RENAME COLUMN both reads still agree: files written before
    # it resolve the column's former name on both paths
    t.rename_column("s", "name")
    t = t.refresh()
    want = [(i, str(i)) for i in range(10, 30)]
    df3 = (spark.read.format("icelake").option("path", t.path)
           .option("start_snapshot_id", str(first)).load())
    assert sorted((r.id, r.name) for r in df3.collect()) == want
    api = t.incremental(spark, from_snapshot_id=first)
    assert sorted((r.id, r.name) for r in api.collect()) == want


def test_dsv2_in_filter_prunes_files(spark, warehouse):
    """An IN predicate pushed through the DSv2 reader becomes an `in`
    leaf of the scan's pruning expression: only files whose bounds can
    match an IN value are planned."""
    from pyspark.sql.datasource import In

    from icelake_spark import datasource
    from icelake_spark.datasource import IcelakeReader

    datasource.register(spark)
    src = spark.range(100).selectExpr("id", "cast(id as string) as s")
    t = warehouse.create_table("db.infilt", Schema.from_spark(src.schema))
    for lo in range(0, 100, 25):  # four range-disjoint files
        t.append(src.where(f"id >= {lo} and id < {lo + 25}"))
        t = t.refresh()
    n_files = len(t.new_scan().plan_files()[0])
    assert n_files >= 2

    df = (spark.read.format("icelake").option("path", t.path).load()
          .where("id in (3, 7)"))
    assert sorted(r.id for r in df.collect()) == [3, 7]
    # direct reader probe: the IN filter must shrink the planned files
    r = IcelakeReader({"path": t.path}, t.schema().to_spark())
    all_files = sum(len(p.files) for p in r.partitions())
    r2 = IcelakeReader({"path": t.path}, t.schema().to_spark())
    assert len(list(r2.pushFilters([In(("id",), (3, 7))]))) == 1
    pruned = sum(len(p.files) for p in r2.partitions())
    assert pruned < all_files


def test_stream_rate_limit_snapshots_per_trigger(spark, warehouse, tmp_path):
    """max_snapshots_per_trigger caps how far each micro-batch's offset
    advances: a 3-snapshot backlog drains in 3 one-snapshot batches
    instead of one giant batch, and no rows are lost or duplicated."""
    from icelake_spark import datasource
    from icelake_spark.types import Schema

    datasource.register(spark)
    src = spark.range(90).selectExpr("id", "id % 3 as g")
    t = warehouse.create_table("db.streamrate", Schema.from_spark(src.schema))
    for lo in (0, 30, 60):
        t.append(src.where(f"id >= {lo} and id < {lo + 30}"))
        t = t.refresh()

    batches = []

    def sink(df, epoch_id):
        batches.append(df.count())

    # availableNow snapshots the end offset ONCE, so a capped source
    # would stop early — rate limiting is a continuous-trigger feature;
    # poll with a fast processingTime trigger until the backlog drains
    q = (spark.readStream.format("icelake")
         .option("path", t.path)
         .option("max_snapshots_per_trigger", "1").load()
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
         .trigger(processingTime="300 milliseconds").start())
    import time
    deadline = time.time() + 120
    while sum(batches) < 90 and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    # one snapshot (30 rows) per non-empty micro-batch; total exact
    assert [b for b in batches if b] == [30, 30, 30]

    # unlimited: the same backlog drains in ONE batch
    batches2 = []
    q2 = (spark.readStream.format("icelake")
          .option("path", t.path).load()
          .writeStream.foreachBatch(lambda df, eid: batches2.append(df.count()))
          .option("checkpointLocation", str(tmp_path / "ckpt_rate2"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(180)
    assert [b for b in batches2 if b] == [90]


def test_stream_rate_limit_restart_no_duplicates(spark, warehouse, tmp_path):
    """ADVICE r7 (medium): with max_snapshots_per_trigger set, the first
    latestOffset() after a query RESTART must never return an offset
    below the checkpointed start. Before the fix it capped from
    starting_sequence_number (default 0), Spark recorded the regressed
    offset, and the next batch re-emitted already-delivered sequence
    numbers as duplicates. Contract now: restart emits ONE uncapped
    catch-up batch, then capping resumes — exactly-once either way."""
    from icelake_spark import datasource
    from icelake_spark.datasource import IcelakePartitionStreamReader
    from icelake_spark.types import Schema

    datasource.register(spark)
    src = spark.range(120).selectExpr("id", "id % 3 as g")
    t = warehouse.create_table("db.streamrestart", Schema.from_spark(src.schema))
    for lo in (0, 30):
        t.append(src.where(f"id >= {lo} and id < {lo + 30}"))
        t = t.refresh()

    # --- unit-level offset contract ---------------------------------
    # fresh query: cap advances from starting_sequence_number
    r = IcelakePartitionStreamReader(
        {"path": t.path, "max_snapshots_per_trigger": "1"},
        t.schema().to_spark())
    assert r.initialOffset() == {"seq": 0}
    assert r.latestOffset()["seq"] == 1          # capped: 0 -> 1
    assert r.latestOffset()["seq"] == 2          # capped: 1 -> 2
    # restart with checkpoint at 2: the first capped latestOffset may
    # regress to 1 (committed start unknown), Spark logs it, plans the
    # empty batch (2, 1], then the NEXT batch arrives as (1, 2] — the
    # duplicate guard must refuse to re-plan snapshot 2's files
    r2 = IcelakePartitionStreamReader(
        {"path": t.path, "max_snapshots_per_trigger": "1"},
        t.schema().to_spark())
    regressed = r2.latestOffset()["seq"]          # 1 (capped from 0)
    assert r2.partitions({"seq": 2}, {"seq": regressed}) == []
    nxt = r2.latestOffset()["seq"]                # floor learned: 2
    assert nxt == 2
    dup = r2.partitions({"seq": regressed}, {"seq": nxt})
    assert dup == [], f"restart re-planned delivered files: {dup}"
    # WAL-replay fidelity: a FRESH reader replays an uncommitted batch
    # in full (the guard only suppresses within-run regressions)
    r3 = IcelakePartitionStreamReader(
        {"path": t.path, "max_snapshots_per_trigger": "1"},
        t.schema().to_spark())
    assert len(r3.partitions({"seq": 1}, {"seq": 2})) > 0

    # --- full restart integration ------------------------------------
    ckpt = str(tmp_path / "ckpt_restart")
    seen = []

    def sink(df, epoch_id):
        seen.append(sorted(row.id for row in df.collect()))

    q = (spark.readStream.format("icelake")
         .option("path", t.path)
         .option("max_snapshots_per_trigger", "1").load()
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(processingTime="300 milliseconds").start())
    import time
    deadline = time.time() + 120
    while sum(len(b) for b in seen) < 60 and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    first_run = [i for b in seen for i in b]
    assert sorted(first_run) == list(range(60))

    # two more snapshots while the query is down, then restart with the
    # SAME checkpoint: every id 60..119 exactly once, nothing replayed
    for lo in (60, 90):
        t.append(src.where(f"id >= {lo} and id < {lo + 30}"))
        t = t.refresh()
    seen2 = []
    q2 = (spark.readStream.format("icelake")
          .option("path", t.path)
          .option("max_snapshots_per_trigger", "1").load()
          .writeStream.foreachBatch(
              lambda df, eid: seen2.append(sorted(row.id for row in df.collect())))
          .option("checkpointLocation", ckpt)
          .trigger(processingTime="300 milliseconds").start())
    deadline = time.time() + 120
    while sum(len(b) for b in seen2) < 60 and time.time() < deadline:
        time.sleep(0.5)
    q2.stop()
    q2.awaitTermination(60)
    second_run = [i for b in seen2 for i in b]
    assert sorted(second_run) == list(range(60, 120)), (
        f"restart replayed/lost rows: {len(second_run)} rows, "
        f"dups={len(second_run) - len(set(second_run))}")


def test_stream_max_files_per_trigger(spark, warehouse, tmp_path):
    """File-granular admission control (Iceberg's
    streaming-max-files-per-micro-batch analogue): each trigger emits
    at most N data FILES, splitting INSIDE a snapshot via composite
    offsets {"seq": s, "files": k}; no row lost or duplicated."""
    from icelake_spark import datasource
    from icelake_spark.datasource import IcelakePartitionStreamReader
    from icelake_spark.types import Schema

    datasource.register(spark)
    src = spark.range(60).selectExpr("id", "id % 3 as g")
    t = warehouse.create_table("db.streamfiles", Schema.from_spark(src.schema))
    for lo in (0, 30):  # 2 snapshots x 3 data files each
        t.append(src.where(f"id >= {lo} and id < {lo + 30}"),
                 max_records_per_file=10)
        t = t.refresh()
    n_files = len(t.new_scan().plan_files()[0])
    assert n_files == 6

    # --- unit-level: the offset walk splits inside snapshots ---------
    r = IcelakePartitionStreamReader(
        {"path": t.path, "max_files_per_trigger": "2"},
        t.schema().to_spark())
    cur = r.initialOffset()
    seen_files, rounds = [], 0
    while rounds < 10:
        nxt = r.latestOffset()
        if nxt == cur:
            break
        files = [f.file_path for p in r.partitions(cur, nxt)
                 for f in p.files]
        assert len(files) <= 2, f"batch exceeded file cap: {len(files)}"
        seen_files.extend(files)
        cur, rounds = nxt, rounds + 1
    assert rounds == 3 and len(seen_files) == 6
    assert len(set(seen_files)) == 6  # no file planned twice
    # final offset is snapshot-aligned (files drained exactly)
    assert cur["files"] == 0

    # --- end-to-end: exact rows, bounded batches ----------------------
    batches = []
    q = (spark.readStream.format("icelake")
         .option("path", t.path)
         .option("max_files_per_trigger", "2").load()
         .writeStream.foreachBatch(
             lambda df, eid: batches.append(sorted(row.id for row in df.collect())))
         .option("checkpointLocation", str(tmp_path / "ckpt_files"))
         .trigger(processingTime="250 milliseconds").start())
    import time
    deadline = time.time() + 120
    while sum(len(b) for b in batches) < 60 and time.time() < deadline:
        time.sleep(0.4)
    q.stop()
    q.awaitTermination(60)
    got = [i for b in batches for i in b]
    assert sorted(got) == list(range(60)), (
        f"{len(got)} rows, dups={len(got) - len(set(got))}")
    assert len([b for b in batches if b]) >= 3  # 6 files / cap 2


def test_stream_caps_compose_and_walk_invariant(spark, warehouse):
    """max_snapshots_per_trigger and max_files_per_trigger compose (the
    snapshot cap bounds how far the file walk may reach), and chaining
    latestOffset/partitions drains the backlog exactly once whatever
    the caps."""
    from icelake_spark.datasource import IcelakePartitionStreamReader
    from icelake_spark.types import Schema

    src = spark.range(90).selectExpr("id", "id % 3 as g")
    t = warehouse.create_table("db.streamboth", Schema.from_spark(src.schema))
    for lo, rpf in ((0, 10), (30, 30), (60, 15)):  # 3, 1, 2 files
        t.append(src.where(f"id >= {lo} and id < {lo + 30}"),
                 max_records_per_file=rpf)
        t = t.refresh()

    def drain(opts):
        r = IcelakePartitionStreamReader(
            {"path": t.path, **opts}, t.schema().to_spark())
        cur, out = r.initialOffset(), []
        for _ in range(20):
            nxt = r.latestOffset()
            if nxt == cur:
                break
            out.append([f.file_path for p in r.partitions(cur, nxt)
                        for f in p.files])
            cur = nxt
        return out

    # file cap alone: 6 files at <=2 per batch
    batches = drain({"max_files_per_trigger": "2"})
    assert [len(b) for b in batches] == [2, 2, 2]
    flat = [f for b in batches for f in b]
    assert len(set(flat)) == 6
    # composed: snapshot cap 1 bounds the walk even when the file cap
    # would admit more (snapshot 2 has ONE file; a file-cap-only walk
    # would pull a file of snapshot 3 into the same batch)
    batches2 = drain({"max_files_per_trigger": "2",
                      "max_snapshots_per_trigger": "1"})
    assert [len(b) for b in batches2] == [2, 1, 1, 2]
    assert set(f for b in batches2 for f in b) == set(flat)


def test_stream_file_walk_dedupes_equal_offsets(spark, warehouse, monkeypatch):
    """v1 stream offsets are commit timestamps, so two appends in the
    same millisecond share an offset; the file walk must emit that
    offset's combined file list ONCE (code-review r8)."""
    from icelake_spark import datasource as ds
    from icelake_spark.types import Schema

    src = spark.range(20).selectExpr("id")
    t = warehouse.create_table("db.sameoff", Schema.from_spark(src.schema))
    t.append(src.where("id < 10"))
    t = t.refresh()
    t.append(src.where("id >= 10"))
    t = t.refresh()

    monkeypatch.setattr(ds, "_stream_offset_of", lambda table, s: 7)
    assert ds._append_offsets(t) == [7]
    files = ds._stream_files_range(t, 0, 0, 7, 0)
    assert len(files) == len(set(files)) == 2  # both snapshots, once
    # the capped walk budgets the combined list once as well
    r = ds.IcelakePartitionStreamReader(
        {"path": t.path, "max_files_per_trigger": "1"},
        t.schema().to_spark())
    off = r._walk_file_cap(t, (0, 0), 7)
    assert off == (6, 1)  # one file of the shared-offset snapshot pair


def test_stream_rate_limit_v1_timestamp_offsets(spark, warehouse, tmp_path):
    """Format-v1 stream offsets are commit TIMESTAMPS; the snapshot cap
    must count actual append snapshots, not add N to the offset value
    (base+N would advance milliseconds per trigger and hang forever —
    code-review r8)."""
    from icelake_spark import datasource
    from icelake_spark.datasource import IcelakePartitionStreamReader
    from icelake_spark.types import Schema

    datasource.register(spark)
    src = spark.range(60).selectExpr("id")
    t = warehouse.create_table("db.streamv1", Schema.from_spark(src.schema),
                               format_version=1)
    for lo in (0, 30):
        t.append(src.where(f"id >= {lo} and id < {lo + 30}"))
        t = t.refresh()

    r = IcelakePartitionStreamReader(
        {"path": t.path, "max_snapshots_per_trigger": "1"},
        t.schema().to_spark())
    cur, batches = r.initialOffset(), []
    assert cur["seq"] == 0
    for _ in range(6):
        nxt = r.latestOffset()
        if nxt == cur:
            break
        batches.append(sum(len(p.files) for p in r.partitions(cur, nxt)))
        cur = nxt
    # the backlog drains in exactly 2 one-snapshot batches even though
    # the offsets are ~1.7e12 apart
    assert batches == [1, 1]
    assert cur["seq"] > 10 ** 11  # offsets really are timestamps


def test_stream_sink_fresh_checkpoint_not_discarded(spark, warehouse, tmp_path):
    """Exactly-once is scoped PER QUERY (checkpoint location): after a
    query committed batch 5, a NEW query (fresh checkpoint, batchIds
    restarting at 0) into the same table must append, not be silently
    dropped by the old recorded batch id (code-review r8)."""
    from icelake_spark.datasource import IcelakeStreamWriter, _WrittenFile
    from icelake_spark.types import Schema

    src = spark.range(6).selectExpr("id", "id % 2 as g")
    t = warehouse.create_table("db.qscope", Schema.from_spark(src.schema))

    def run_batch(ckpt, batch_id, lo, hi):
        w = IcelakeStreamWriter(
            {"path": t.path, "checkpointLocation": ckpt}, src.schema)
        msg = w.write(iter(r for r in
                           src.where(f"id >= {lo} and id < {hi}").collect()))
        w.commit([msg], batch_id)

    run_batch(str(tmp_path / "ck_a"), 5, 0, 3)
    assert t.refresh().to_df(spark).count() == 3
    # new query, fresh checkpoint, batchId 0 < 5: MUST still commit
    run_batch(str(tmp_path / "ck_b"), 0, 3, 6)
    assert t.refresh().to_df(spark).count() == 6
    # replay WITHIN a query is still dropped
    run_batch(str(tmp_path / "ck_b"), 0, 3, 6)
    assert t.refresh().to_df(spark).count() == 6


def test_stream_sink_writes_through_fileio(spark, tmp_path):
    """The streaming sink stages parquet through the table's FileIO —
    a custom-scheme table must never touch the local filesystem
    directly (code-review r8)."""
    import sys

    from pyspark import cloudpickle

    from icelake_spark.catalog.storage import StorageCatalog
    from icelake_spark.datasource import IcelakeStreamWriter
    from icelake_spark.fileio import register_io, unregister_io
    from icelake_spark.types import Schema
    from tests.test_fileio import MockFileIO

    cloudpickle.register_pickle_by_value(sys.modules[MockFileIO.__module__])
    io = MockFileIO(str(tmp_path / "mockfs"))
    register_io("mock", lambda path: io)
    try:
        cat = StorageCatalog("mock://wh")
        src = spark.range(5).selectExpr("id")
        t = cat.create_table("db.mocksink", Schema.from_spark(src.schema))
        w = IcelakeStreamWriter({"path": t.path}, src.schema)
        msg = w.write(iter(r for r in src.collect()))
        assert all(p.startswith("mock://") for p, _ in msg.files)
        w.commit([msg], 0)
        assert t.refresh().to_df(spark).count() == 5
    finally:
        unregister_io("mock")


def test_dsv2_eq_delete_on_dropped_key_raises(spark, warehouse):
    """An eq-delete file keyed on a since-DROPPED column cannot be
    applied; the DSv2 reader must raise like the native path
    (table.py _apply_deletes) — silently skipping the file (the
    pre-r13 behavior) resurrected every row it tombstoned."""
    from icelake_spark import datasource

    datasource.register(spark)
    src = spark.createDataFrame([(i, i % 3, i * 10) for i in range(12)],
                                "id long, key long, v long")
    t = warehouse.create_table("db.dropkey", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    t.upsert(spark.createDataFrame([(100, 0, 999)],
                                   "id long, key long, v long"),
             key_cols=["key"])
    t = t.refresh()
    t.drop_column("key")
    with pytest.raises(Exception, match="dropped column ids"):
        (spark.read.format("icelake").option("path", t.path)
         .load().collect())


def test_dsv2_avro_file_with_no_schema_overlap_pads_rows(spark, warehouse):
    """An avro data file whose EVERY recorded column was since dropped
    and re-added has no name overlap with the requested schema: the
    reader must still yield the file's ROW COUNT as all-NULL rows —
    the pre-r13 0-row return silently dropped them from the scan."""
    from icelake_spark import datasource

    datasource.register(spark)
    src = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")],
                                "a long, b string")
    t = warehouse.create_table(
        "db.avdrop", Schema.from_spark(src.schema),
        properties={"write.format.default": "avro"})
    t.append(src)
    t.add_column("keep", "long")
    t.drop_column("a")
    t.drop_column("b")
    t.add_column("a", "long")
    t.add_column("b", "string")
    rows = [tuple(r) for r in spark.read.format("icelake")
            .option("path", t.path).load().collect()]
    assert rows == [(None, None, None)] * 3, rows
