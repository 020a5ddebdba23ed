"""Write-path configuration parity: sort orders executed at write, byte
/row rolling targets, compression property, catalog namespaces."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from icelake_spark.types import Schema, SortField, SortOrder


def _data_files(t):
    data, _, _ = t.new_scan().plan_files()
    return [x.data_file for x in data]


def test_sort_order_executed_and_recorded(spark, warehouse):
    src = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("g"),
        F.reverse(F.col("id").cast("string")).alias("s"))
    schema = Schema.from_spark(src.schema)
    so = SortOrder(1, (SortField(schema.field_by_name("s").field_id,
                                 "identity", "asc", "nulls-first"),))
    t = warehouse.create_table("db.sorted", schema, sort_order=so)
    t.append(src)
    files = _data_files(t)
    assert all(f.sort_order_id == 1 for f in files)
    # rows inside each file are sorted by s
    for f in files:
        vals = pq.read_table(f.file_path, columns=["s"])["s"].to_pylist()
        assert vals == sorted(vals)
    # read back still complete
    assert t.to_df(spark).count() == 1000


def test_rows_per_file_property(spark, warehouse):
    src = spark.range(5000).select("id")
    schema = Schema.from_spark(src.schema)
    t = warehouse.create_table("db.rolled", schema,
                               properties={"write.rows-per-file": "1000"})
    t.append(src.coalesce(1))
    files = _data_files(t)
    assert len(files) >= 5
    assert all(f.record_count <= 1000 for f in files)


def test_target_file_size_property(spark, warehouse):
    src = spark.range(200000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("payload"))
    schema = Schema.from_spark(src.schema)
    t = warehouse.create_table(
        "db.sized", schema,
        properties={"write.target-file-size-bytes": str(256 * 1024)})
    t.append(src.coalesce(1))
    files = _data_files(t)
    assert len(files) >= 2  # split by estimated byte target
    for f in files:
        assert f.file_size_in_bytes < 4 * 256 * 1024  # loose upper bound


def test_compaction_honours_target_file_size_property(spark, warehouse):
    """rewrite_data_files sizes its output by the table's
    write.target-file-size-bytes, as Iceberg's does: at 64 KiB the
    table compacts into more than one file, not into one file at the
    128 MiB default."""
    from icelake_spark.maintenance import rewrite_data_files

    src = spark.range(20000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("payload"))
    t = warehouse.create_table(
        "db.compact_sized", Schema.from_spark(src.schema),
        properties={"write.target-file-size-bytes": str(64 * 1024)})
    t.append(src.coalesce(1))
    assert rewrite_data_files(t.refresh(), spark) > 1
    assert t.refresh().to_df(spark).count() == 20000


def test_compression_property(spark, warehouse):
    src = spark.range(100).select(F.col("id"))
    schema = Schema.from_spark(src.schema)
    t = warehouse.create_table(
        "db.zstd", schema,
        properties={"write.parquet.compression-codec": "zstd"})
    t.append(src)
    f = _data_files(t)[0]
    md = pq.read_metadata(f.file_path)
    assert md.row_group(0).column(0).compression.lower() == "zstd"


def test_namespaces(warehouse, spark):
    warehouse.create_namespace("analytics.raw")
    src = spark.range(1).select("id")
    warehouse.create_table("analytics.raw.t1", Schema.from_spark(src.schema))
    warehouse.create_table("analytics.raw.t2", Schema.from_spark(src.schema))
    assert warehouse.list_tables() == ["analytics.raw.t1", "analytics.raw.t2"]
    assert warehouse.list_namespaces() == ["analytics.raw"]
    assert warehouse.table_exists("analytics.raw.t1")
    assert not warehouse.table_exists("analytics.raw.nope")
    warehouse.rename_table("analytics.raw.t2", "analytics.raw.t3")
    assert warehouse.table_exists("analytics.raw.t3")
    warehouse.drop_table("analytics.raw.t3")
    assert not warehouse.table_exists("analytics.raw.t3")


def test_metrics_tally_commits_and_deletes(spark, tmp_path):
    from icelake_spark.catalog import StorageCatalog
    from icelake_spark.metrics import REGISTRY
    from icelake_spark.types import Schema

    REGISTRY.reset()
    src = spark.range(100).selectExpr("id", "cast(id % 5 as string) k")
    cat = StorageCatalog(str(tmp_path))
    t = cat.create_table("db.m", Schema.from_spark(src.schema))
    t.append(src)
    t.append(src)
    t.delete_where(spark, "id < 10")  # MoR position deletes by default
    snap = REGISTRY.snapshot()
    name = "db.m"
    assert snap["iceberg_commit_total"][f"operation=append,table={name}"] == 2
    assert snap["iceberg_eq_delta_inserted_row_num"][f"table={name}"] == 200
    # id < 10 matches 10 rows in EACH of the two appended file sets
    assert snap["iceberg_pos_delete_qps"][f"table={name}"] == 20
    assert snap["iceberg_pos_delete_flush_qps"][f"table={name}"] >= 1


def test_orc_native_write_roundtrip_and_delete(spark, tmp_path):
    from icelake_spark.catalog import StorageCatalog
    from icelake_spark.table import IcebergTable
    from icelake_spark.types import Schema

    src = spark.range(50).selectExpr("id", "cast(id % 7 as string) k")
    cat = StorageCatalog(str(tmp_path))
    t = cat.create_table("db.orc", Schema.from_spark(src.schema),
                         properties={"write.format.default": "orc"})
    t.append(src)
    files = [f.data_file for f in t.new_scan().plan_files()[0]]
    assert files and all(f.file_format == "ORC" for f in files)
    assert all(f.file_path.endswith(".orc") for f in files)
    back = IcebergTable.load(str(tmp_path / "db" / "orc")).to_df(spark)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    # row-level delete on ORC must take the copy-on-write path
    t.delete_where(spark, "id < 10")
    assert t.to_df(spark).count() == 40
    _, pos, eq = t.new_scan().plan_files()
    assert not pos and not eq  # no delete files: files were rewritten


def test_unpartitioned_write_coalesces_small_files(spark, tmp_path):
    from icelake_spark.catalog import StorageCatalog
    from icelake_spark.types import Schema

    cat = StorageCatalog(str(tmp_path))
    # tiny data across 32 source partitions -> ONE file, not 32
    src = spark.range(100).selectExpr("id", "cast(id as string) v")
    t = cat.create_table("db.co", Schema.from_spark(src.schema))
    t.append(src)
    files = [f.data_file for f in t.new_scan().plan_files()[0]]
    assert len(files) == 1 and files[0].record_count == 100
    # a small byte target still splits big data (coalesce never merges
    # below what the target demands)
    big = spark.range(200000).selectExpr(
        "id", "md5(cast(id as string)) payload")
    t2 = cat.create_table(
        "db.co2", Schema.from_spark(big.schema),
        properties={"write.target-file-size-bytes": str(64 * 1024)})
    t2.append(big)
    files2 = t2.new_scan().plan_files()[0]
    assert len(files2) > 4


def test_distribution_mode_range_tiles_sorted_files(spark, warehouse):
    """write.distribution-mode=range on a sorted table produces globally
    clustered files: per-file [min,max] bounds on the sort column tile
    the domain (mostly disjoint), unlike hash + within-task sort where
    every file spans nearly the full range."""
    src = (spark.range(40000)
           .select(F.col("id"), (F.xxhash64("id") % 10000).alias("k"))
           .repartition(8))  # random row order going in
    schema = Schema.from_spark(src.schema)
    so = SortOrder(1, (SortField(schema.field_by_name("k").field_id,
                                 "identity", "asc", "nulls-first"),))

    def spans(t):
        fid = t.schema().field_by_name("k").field_id
        out = []
        for f in _data_files(t):
            lo = f.decoded_bounds(t.schema(), "lower")[fid]
            hi = f.decoded_bounds(t.schema(), "upper")[fid]
            out.append(hi - lo)
        return out

    # small byte target keeps multiple write tasks alive in hash mode
    # (one coalesced task would globally sort and tile by accident)
    th = warehouse.create_table(
        "db.dist_hash", schema, sort_order=so,
        properties={"write.target-file-size-bytes": "65536"})
    th.append(src)
    tr = warehouse.create_table(
        "db.dist_range", schema, sort_order=so,
        properties={"write.target-file-size-bytes": "65536",
                    "write.distribution-mode": "range"})
    tr.append(src)
    assert tr.to_df(spark).count() == 40000
    h_spans, r_spans = spans(th), spans(tr)
    assert len(r_spans) > 1
    # range files tile the domain: median span far below the hash layout
    med = lambda xs: sorted(xs)[len(xs) // 2]
    assert med(r_spans) < med(h_spans) / 2
    # and zone-map pruning actually skips files on the sorted column
    pruned, _, _ = tr.new_scan(filter="k >= 0").plan_files()
    assert len(pruned) < len(_data_files(tr))


def test_distribution_mode_none_trusts_caller(spark, warehouse):
    src = spark.range(1000).selectExpr("id").repartition(6)
    schema = Schema.from_spark(src.schema)
    t = warehouse.create_table("db.dist_none", schema,
                               properties={"write.distribution-mode": "none"})
    t.append(src)
    # one file per input partition (no coalesce, no shuffle)
    assert len(_data_files(t)) == 6
    assert t.to_df(spark).count() == 1000


def test_arrow_field_id_mode_nested_ids_and_rename(spark, warehouse):
    """write.parquet.field-id-mode=arrow: files carry PARQUET:field_id
    at EVERY nesting level (reference to_arrow.rs:15-45), so a renamed
    struct MEMBER in a file we wrote rebinds by id through the DSv2
    reader — the default Spark lane stamps top-level ids only (alias
    metadata), where the member could bind by name alone."""
    from dataclasses import replace as dc_replace

    from icelake_spark import datasource
    from icelake_spark.types.datatypes import (
        NestedField,
        Schema as ISchema,
        StructType as IStruct,
    )

    src = spark.createDataFrame(
        [(1, (10, "x"), [1, 2]), (2, (20, "y"), [3])],
        "id bigint, s struct<a: bigint, b: string>, xs array<bigint>")
    t = warehouse.create_table(
        "db.arrownest", Schema.from_spark(src.schema),
        properties={"write.parquet.field-id-mode": "arrow"})
    t.append(src)

    d = _data_files(t)[0]
    sch = pq.read_schema(d.file_path)
    sf = sch.field("s")
    assert sf.metadata and b"PARQUET:field_id" in sf.metadata
    for i in range(sf.type.num_fields):
        m = sf.type.field(i)
        assert m.metadata and b"PARQUET:field_id" in m.metadata, m
    xs_el = sch.field("xs").type.value_field
    assert xs_el.metadata and b"PARQUET:field_id" in xs_el.metadata

    got = sorted((r.id, tuple(r.s), list(r.xs))
                 for r in t.to_df(spark).collect())
    assert got == [(1, (10, "x"), [1, 2]), (2, (20, "y"), [3])]

    # nested member rename keeping the field id: schema-evolution
    # surgery the public API reserves for top-level columns
    cur = t.metadata.current_schema()

    def rn(f):
        if f.name != "s":
            return f
        members = tuple(
            NestedField(m.field_id,
                        "a_renamed" if m.name == "a" else m.name,
                        m.field_type, m.required, m.doc)
            for m in f.field_type.fields)
        return NestedField(f.field_id, f.name, IStruct(members),
                           f.required, f.doc)

    new_schema = ISchema(
        struct=IStruct(tuple(rn(f) for f in cur.fields)),
        schema_id=max(s.schema_id for s in t.metadata.schemas) + 1,
        identifier_field_ids=cur.identifier_field_ids)
    t._commit_metadata(dc_replace(
        t.metadata, schemas=t.metadata.schemas + (new_schema,),
        current_schema_id=new_schema.schema_id))

    datasource.register(spark)
    df = spark.read.format("icelake").option("path", t.path).load()
    assert "a_renamed" in df.schema["s"].dataType.fieldNames()
    rows = {r.id: r.s for r in df.collect()}
    assert rows[1].a_renamed == 10 and rows[1].b == "x"
    assert rows[2].a_renamed == 20 and rows[2].b == "y"


def test_arrow_field_id_mode_uuid_time_physical(spark, warehouse):
    """uuid writes as fixed[16], time as annotated time64[µs] (Iceberg
    parquet physical types — the alias lane stored string/int64), and
    both read back through the DSv2 reader as the engine's Spark-side
    conventions (canonical-hex string / µs long)."""
    import pyarrow as pa

    from icelake_spark import datasource
    from icelake_spark.types.datatypes import (
        LONG,
        TIME,
        UUID,
        NestedField,
        Schema as ISchema,
        StructType as IStruct,
    )

    schema = ISchema(struct=IStruct((
        NestedField(1, "id", LONG, True),
        NestedField(2, "u", UUID),
        NestedField(3, "tm", TIME),
    )))
    t = warehouse.create_table(
        "db.uuidtime", schema,
        properties={"write.parquet.field-id-mode": "arrow"})
    u1 = "0f0e0d0c-0b0a-0908-0706-050403020100"
    src = spark.createDataFrame([(1, u1, 3600000000), (2, None, None)],
                                "id bigint, u string, tm bigint")
    t.append(src)

    d = _data_files(t)[0]
    sch = pq.read_schema(d.file_path)
    assert sch.field("u").type == pa.binary(16)
    assert sch.field("tm").type == pa.time64("us")

    datasource.register(spark)
    df = spark.read.format("icelake").option("path", t.path).load()
    rows = {r.id: (r.u, r.tm) for r in df.collect()}
    assert rows[1] == (u1, 3600000000)
    assert rows[2] == (None, None)


def test_arrow_field_id_mode_partitioned(spark, warehouse):
    """The arrow lane fans out hive partition dirs like the default
    lane: partition values land in manifests and pruning works."""
    from icelake_spark.types import PartitionField, PartitionSpec

    src = spark.range(300).selectExpr("id", "id % 3 as g")
    schema = Schema.from_spark(src.schema)
    spec = PartitionSpec(0, (PartitionField(
        schema.field_by_name("g").field_id, 1000, "identity", "g"),))
    t = warehouse.create_table(
        "db.arrowpart", schema, spec=spec,
        properties={"write.parquet.field-id-mode": "arrow",
                    "write.rows-per-file": "40"})
    t.append(src)
    files = _data_files(t)
    assert {f.partition.get("g") for f in files} == {0, 1, 2}
    # rows-per-file roll honored by the lane's own writer
    assert all(f.record_count <= 40 for f in files)
    pruned, _, _ = t.new_scan(filter="g = 1").plan_files()
    assert len(pruned) < len(files)
    assert t.to_df(spark, filter="g = 1").count() == 100
    assert t.to_df(spark).count() == 300


def test_timestamp_zone_map_bounds_recorded_and_prune(spark, warehouse):
    """Timestamp columns must carry zone-map bounds: Spark's INT96
    parquet default records NO column statistics, so every time-range
    predicate scanned the full table (review r13). The writer forces
    int64 micros (also the Iceberg-spec encoding) and the planner then
    prunes files by ts bounds."""
    from pyspark.sql import functions as F

    from icelake_spark.types import Schema

    df = (spark.createDataFrame(
        [(i, f"2024-0{1 + i // 50}-01 00:{i % 50 + 10}:00") for i in range(100)],
        "id long, ts string")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    t = warehouse.create_table("db.tsbounds", Schema.from_spark(df.schema))
    t.append(df.where("id < 50"))    # January file(s)
    t = t.refresh()
    t.append(df.where("id >= 50"))   # February file(s)
    t = t.refresh()
    data, _, _ = t.new_scan().plan_files(spark)
    fid = t.schema().field_by_name("ts").field_id
    assert all(d.data_file.lower_bounds and fid in d.data_file.lower_bounds
               for d in data), "timestamp bounds missing from manifests"
    flt = "ts >= '2024-02-01 00:00:00'"
    pruned, _, _ = t.new_scan(filter=flt).plan_files(spark)
    assert 0 < len(pruned) < len(data)
    assert t.to_df(spark, filter=flt).count() == 50


def test_zero_row_part_files_not_committed(spark, warehouse):
    """Spark's committer leaves empty part files when output tasks get
    no rows (e.g. 3 rows across 32 partitions): they must not reach the
    manifests — they bloat metadata forever and, carrying no stats,
    survive every zone-map prune (review r13)."""
    from icelake_spark.types import Schema

    df = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    t = warehouse.create_table("db.nozero", Schema.from_spark(df.schema))
    t.append(df.repartition(16))  # forces many empty output tasks
    t = t.refresh()
    data, _, _ = t.new_scan().plan_files(spark)
    assert data, "no files committed"
    assert all(d.data_file.record_count > 0 for d in data)
    assert t.to_df(spark).count() == 3
