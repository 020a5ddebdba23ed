"""Distributed scan planning (SURVEY §7 risk 8) and manifest-list
FieldSummary pruning.

The distributed planner must be a byte-identical twin of the serial
one: same surviving files, same sequence numbers, same order. Field
summaries written at commit time must let a partition-filtered scan
skip whole manifests without opening them.
"""

import pytest

from icelake_spark import planning, pruning
from icelake_spark.types import PartitionField, PartitionSpec, Schema
from icelake_spark.types.manifest import read_manifest_list


def _plan_key(plan):
    data, pos, eq = plan
    return ([(t.data_file.file_path, t.sequence_number, t.spec_id) for t in data],
            [(t.delete_file.file_path, t.sequence_number) for t in pos],
            [(t.delete_file.file_path, t.sequence_number) for t in eq])


@pytest.fixture()
def multi_manifest_table(spark, warehouse):
    """Partitioned table with several commits → several manifests."""
    schema = Schema.from_spark(
        spark.createDataFrame([], "id long, bucket int, v string").schema)
    fid = schema.field_by_name("bucket").field_id
    spec = PartitionSpec(0, (PartitionField(fid, 1000, "identity", "bucket"),))
    t = warehouse.create_table("db.many_manifests", schema, spec=spec)
    for commit in range(5):
        df = spark.createDataFrame(
            [(commit * 100 + i, commit, f"r{commit}-{i}") for i in range(10)],
            "id long, bucket int, v string")
        t.append(df)
    return t.refresh()


def test_distributed_plan_equals_serial(spark, multi_manifest_table):
    t = multi_manifest_table
    serial = t.new_scan(distributed_planning=False).plan_files()
    dist = t.new_scan(distributed_planning=True).plan_files(spark)
    assert _plan_key(serial) == _plan_key(dist)
    assert len(serial[0]) >= 5  # one data file per commit at minimum


def test_distributed_plan_with_filters_equals_serial(spark, multi_manifest_table):
    t = multi_manifest_table
    kwargs = dict(partition_filter={"bucket": 2}, filter="id >= 200")
    serial = t.new_scan(distributed_planning=False, **kwargs).plan_files()
    dist = t.new_scan(distributed_planning=True, **kwargs).plan_files(spark)
    assert _plan_key(serial) == _plan_key(dist)
    assert 0 < len(serial[0]) < 5


def test_distributed_scan_reads_same_rows(spark, multi_manifest_table):
    t = multi_manifest_table
    a = t.new_scan(distributed_planning=False).to_df(spark)
    b = t.new_scan(distributed_planning=True).to_df(spark)
    assert sorted(r.id for r in a.collect()) == sorted(r.id for r in b.collect())


def test_field_summaries_written_and_prune(spark, multi_manifest_table):
    t = multi_manifest_table
    snap = t.current_snapshot()
    mles = read_manifest_list(t._resolve(snap.manifest_list))
    data_mles = [m for m in mles if m.partitions]
    assert data_mles, "commit should write FieldSummaries for data manifests"
    # each commit wrote a single-partition manifest: bounds are tight
    expr = pruning.from_partition_filter(t.metadata, {"bucket": 2})
    pruned = planning.prune_manifests(mles, t.metadata, expr)
    assert len(pruned) < len(mles)
    # pruning must never drop a manifest that can match
    assert any(m.partitions and m.partitions[0]["lower_bound"] for m in pruned)
    data, _, _ = t.new_scan(partition_filter={"bucket": 2}).plan_files()
    rows = t.new_scan(partition_filter={"bucket": 2}).to_df(spark).collect()
    assert {r.bucket for r in rows} == {2} and len(rows) == 10


def test_summary_pruned_plan_equals_unpruned(spark, multi_manifest_table):
    """Summary pruning is an optimization: same plan with and without."""
    t = multi_manifest_table
    snap = t.current_snapshot()
    mles = read_manifest_list(t._resolve(snap.manifest_list))
    expr = pruning.from_partition_filter(t.metadata, {"bucket": 3})
    pruned = planning.prune_manifests(mles, t.metadata, expr)
    full_plan = planning.plan_serial(t.path, t.metadata, mles, expr)
    pruned_plan = planning.plan_serial(t.path, t.metadata, pruned, expr)
    assert ([x[1].file_path for x in full_plan]
            == [x[1].file_path for x in pruned_plan])


def test_threshold_auto_switch(spark, warehouse):
    """Auto mode flips to distributed at the property threshold."""
    schema = Schema.from_spark(spark.createDataFrame([], "id long").schema)
    t = warehouse.create_table(
        "db.thr", schema,
        properties={"read.plan.distributed-threshold": "2"})
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], "id long"))
    t = t.refresh()
    auto = t.new_scan().plan_files(spark)  # 3 manifests >= 2 → distributed
    serial = t.new_scan(distributed_planning=False).plan_files()
    assert _plan_key(auto) == _plan_key(serial)
    assert len(auto[0]) >= 3


def test_plan_files_df_matches_serial_and_aggregates(spark, multi_manifest_table):
    """plan_files_df: same files as the serial planner, consumable as a
    DataFrame (aggregation without collecting any DataFile), and
    split_tasks accepts it directly."""
    from pyspark.sql import functions as F

    from icelake_spark.table import DeleteFileTask, FileScanTask

    t = multi_manifest_table
    serial = t.new_scan(distributed_planning=False).plan_files()
    pdf = t.new_scan().plan_files_df(spark)
    # aggregate-only consumption: totals match without driver DataFiles
    agg = pdf.groupBy("content").agg(
        F.count("*").alias("n"), F.sum("record_count").alias("rows")).collect()
    by_content = {r.content: (r.n, r.rows) for r in agg}
    assert by_content[0][0] == len(serial[0])
    assert by_content[0][1] == sum(x.data_file.record_count for x in serial[0])
    # split_tasks consumes the DataFrame via streaming, same plan out
    streamed = planning.split_tasks(
        t.new_scan().plan_files_df(spark), FileScanTask, DeleteFileTask)
    assert _plan_key(streamed) == _plan_key(serial)


def test_plan_files_df_many_manifests(spark, warehouse, tmp_path):
    """Synthetic 600-manifest snapshot (beyond the distributed
    threshold) plans through the DataFrame path; the driver only ever
    sees the aggregate. Manifests are written directly (not via 600
    commits) to keep the test fast."""
    import os

    from icelake_spark.types.manifest import (MANIFEST_CONTENT_DATA, DataFile,
                                              ManifestEntry, write_manifest,
                                              write_manifest_list)

    src = spark.range(3).selectExpr("id")
    t = warehouse.create_table("db.manymani", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    snap = t.current_snapshot()
    meta_dir = os.path.join(t.path, "metadata")
    schema = t.schema()
    spec = t.metadata.default_spec()
    # synthesize 600 single-file manifests pointing at the real data file
    real = t.new_scan().plan_files()[0][0].data_file
    mles = []
    for i in range(600):
        p = os.path.join(meta_dir, f"syn-{i}.avro")
        mles.append(write_manifest(
            p, [ManifestEntry(1, DataFile(
                file_path=real.file_path, file_format="PARQUET",
                record_count=3, file_size_in_bytes=real.file_size_in_bytes)),
                ], spec, schema, snap.snapshot_id, 2, MANIFEST_CONTENT_DATA,
            sequence_number=i + 1))
    ml = os.path.join(meta_dir, "syn-list.avro")
    write_manifest_list(ml, mles, snap.snapshot_id, None, 600, 2)
    pdf = planning.plan_files_df(
        spark, t.path, t.metadata,
        read_manifest_list(ml))
    got = pdf.groupBy().agg(
        {"record_count": "sum", "seq": "max"}).collect()[0]
    assert got["sum(record_count)"] == 1800
    assert got["max(seq)"] == 600
    assert pdf.count() == 600


def test_planner_scale_10k_files_end_to_end(spark, warehouse, tmp_path):
    """Scale drill (pinned): a 10,000-file snapshot (100 synthetic
    manifests x 100 files) plans end-to-end through plan_files_df →
    split_tasks → DSv2 partitions with bounded wall time and no
    driver-side DataFile materialization on the DataFrame path
    (split_tasks streams via toLocalIterator)."""
    import os
    import time
    from dataclasses import replace as dc_replace

    from icelake_spark.datasource import IcelakeReader, _FileTask, _ScanTask
    from icelake_spark.table import DeleteFileTask, FileScanTask
    from icelake_spark.types.manifest import (MANIFEST_CONTENT_DATA, DataFile,
                                              ManifestEntry, write_manifest,
                                              write_manifest_list)

    src = spark.range(3).selectExpr("id")
    t = warehouse.create_table("db.scale10k", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    snap = t.current_snapshot()
    meta_dir = os.path.join(t.path, "metadata")
    schema, spec = t.schema(), t.metadata.default_spec()
    mles = []
    for i in range(100):
        entries = [ManifestEntry(1, DataFile(
            file_path=os.path.join(t.path, "data", f"f-{i}-{j}.parquet"),
            file_format="PARQUET", record_count=1, file_size_in_bytes=100))
            for j in range(100)]
        p = os.path.join(meta_dir, f"syn10k-{i}.avro")
        mles.append(write_manifest(p, entries, spec, schema,
                                   snap.snapshot_id, 2, MANIFEST_CONTENT_DATA,
                                   sequence_number=i + 1))
    ml = os.path.join(meta_dir, "syn10k-list.avro")
    write_manifest_list(ml, mles, snap.snapshot_id, None, 100, 2)
    # point the CURRENT snapshot at the synthetic list (metadata-only)
    snaps = tuple(dc_replace(s, manifest_list=ml)
                  if s.snapshot_id == snap.snapshot_id else s
                  for s in t.metadata.snapshots)
    t._commit_metadata(dc_replace(t.metadata, snapshots=snaps))

    start = time.monotonic()
    # DataFrame plan path: aggregate consumption, nothing collected
    pdf = t.new_scan().plan_files_df(spark)
    assert pdf.count() == 10_000
    # split_tasks streams the same frame into tasks
    data, pos, eq = planning.split_tasks(
        t.new_scan().plan_files_df(spark), FileScanTask, DeleteFileTask)
    assert len(data) == 10_000 and not pos and not eq
    # DSv2 planning: every file in exactly one scan task
    r = IcelakeReader({"path": t.path}, t.schema().to_spark())
    parts = r.partitions()
    assert all(isinstance(p, _ScanTask) for p in parts)
    files = [f for p in parts for f in p.files]
    assert all(isinstance(f, _FileTask) for f in files)
    assert len(files) == len({f.file_path for f in files}) == 10_000
    elapsed = time.monotonic() - start
    assert elapsed < 60, f"10k-file planning took {elapsed:.1f}s"
