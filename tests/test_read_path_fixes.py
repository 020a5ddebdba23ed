"""Regression tests for the round-3 read-path review findings:
partition-aware streaming sink, equality-delete keys across a rename,
promoted types in streams, and NaN/NULL keys on every read path (the
changelog's own findings live in test_changelog.py)."""

from icelake_spark.types import Schema


def _schema(spark, ddl):
    return Schema.from_spark(spark.createDataFrame([], ddl).schema)


def test_stream_sink_writes_partition_tuples(spark, warehouse):
    """The DSv2 streaming sink must write hive-partitioned files with
    real partition tuples — a partitionless file is silently pruned out
    of every partition-filtered scan."""
    from icelake_spark.datasource import IcelakeStreamWriter
    from icelake_spark.types import PartitionField, PartitionSpec

    schema = _schema(spark, "id long, region string")
    spec = PartitionSpec(0, (PartitionField(
        schema.field_by_name("region").field_id, 1000, "identity", "region"),))
    t = warehouse.create_table("db.stream_part", schema, spec=spec)

    w = IcelakeStreamWriter({"path": t.path}, schema.to_spark())
    rows = [(1, "eu"), (2, "us"), (3, "eu"), (4, "ap")]
    msg = w.write(iter(rows))
    assert len(msg.files) == 3  # one file per region
    w.commit([msg], batchId=0)
    t.refresh()

    data, _, _ = t.new_scan().plan_files()
    parts = sorted(d.data_file.partition.get("region") for d in data)
    assert parts == ["ap", "eu", "us"]
    # partition-filtered read sees the streamed rows
    got = sorted(r.id for r in
                 t.new_scan(partition_filter={"region": "eu"})
                 .to_df(spark).collect())
    assert got == [1, 3]


def test_eq_delete_keys_survive_rename(spark, warehouse):
    """Equality-delete files written before ALTER TABLE RENAME COLUMN
    keep deleting: their key columns resolve through the same
    field-id/rename stack as data columns. Before the fix the missing
    current name padded all-None, resurrecting every deleted row and
    spuriously deleting NULL-key rows (code-review r8)."""
    from icelake_spark import datasource
    from icelake_spark.delta import upsert
    from icelake_spark.types import Schema

    datasource.register(spark)
    src = spark.createDataFrame(
        [(1, 10), (2, 20), (None, 30)], "id long, v long")
    t = warehouse.create_table("db.eqren", Schema.from_spark(src.schema))
    t.append(src)
    # upsert on id -> eq-delete file keyed by column 'id'
    upsert(t, spark.createDataFrame([(2, 99)], "id long, v long"),
           key_cols=["id"])
    t = t.refresh()
    t.rename_column("id", "user_id")
    t = t.refresh()

    expect = {(1, 10), (2, 99), (None, 30)}
    got = {(r.user_id, r.v) for r in t.to_df(spark).collect()}
    assert got == expect, got
    # DSv2 lane applies the same resolution
    df = spark.read.format("icelake").option("path", t.path).load()
    assert {(r.user_id, r.v) for r in df.collect()} == expect


def test_stream_casts_promoted_types(spark, warehouse, tmp_path):
    """Files written before ALTER COLUMN TYPE stream with the promoted
    type: the stream readers apply the same projection stack as the
    batch reader (the runner asserts batches match the declared
    schema; an int32 batch under a bigint schema crashes the stream —
    code-review r8)."""
    from icelake_spark import datasource
    from icelake_spark.types import Schema

    datasource.register(spark)
    src = spark.createDataFrame([(1, 5), (2, 6)], "id long, c int")
    t = warehouse.create_table("db.promstream", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    t.update_column_type("c", "long")
    t = t.refresh()
    t.append(spark.createDataFrame([(3, 7)], "id long, c long"))
    t = t.refresh()

    q = (spark.readStream.format("icelake").option("path", t.path).load()
         .writeStream.format("memory").queryName("promstream")
         .option("checkpointLocation", str(tmp_path / "ckpt_prom"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(r.id, r.c) for r in spark.sql(
        "select * from promstream").collect()}
    assert rows == {(1, 5), (2, 6), (3, 7)}


def test_read_paths_agree_on_nan_and_null_keys(spark, warehouse, arrow_rows):
    """Every read path applies equality deletes with Spark's key
    equality — NULL matches NULL, NaN matches NaN — so to_df, the
    DataSource, changes() and the changelog stream all agree. The
    DataSource and the stream decoder once matched keys by Python
    tuple-in-set, where NaN != NaN, and kept an upserted NaN row's
    stale version alive. The batch changelog read is one more reader."""
    from pyspark.sql import types as T

    from icelake_spark import datasource
    from icelake_spark.datasource import (IcelakePartitionStreamReader,
                                          _stream_end_offset)

    datasource.register(spark)
    nan = float("nan")
    cases = [
        # (ddl, key columns, rows, upsert batch, rows the upsert replaces)
        ("k double, v long", ["k"],
         [(1.0, 1), (nan, 2), (None, 3)],
         [(nan, 20), (None, 30)],
         [(nan, 2), (None, 3)]),
        ("a long, b string, v long", ["a", "b"],
         [(1, "x", 1), (1, None, 2), (None, None, 3), (2, "y", 4)],
         [(1, None, 20), (None, None, 30)],
         [(1, None, 2), (None, None, 3)]),
    ]

    def norm(rows):  # NaN and None order and compare via repr
        return sorted(repr(tuple(r)) for r in rows)

    for i, (ddl, keys, rows, batch, replaced) in enumerate(cases):
        t = warehouse.create_table(f"db.nankey{i}", _schema(spark, ddl))
        t.append(spark.createDataFrame(rows, ddl))
        t.upsert(spark.createDataFrame(batch, ddl), key_cols=keys)
        t = t.refresh()
        live = [r for r in rows if r not in replaced] + batch
        assert norm(t.to_df(spark).collect()) == norm(live), ddl
        ds = spark.read.format("icelake").option("path", t.path).load()
        assert norm(ds.collect()) == norm(live), ddl

        ncols = len(t.schema().fields)
        events = ([(*r, "insert") for r in rows + batch]
                  + [(*r, "delete") for r in replaced])
        batch_changes = [tuple(r)[:ncols + 1]
                         for r in t.changes(spark).collect()]
        assert norm(batch_changes) == norm(events), ddl
        ds_changes = [tuple(r)[:ncols + 1] for r in (
            spark.read.format("icelake").option("path", t.path)
            .option("changelog", "true").load().collect())]
        assert norm(ds_changes) == norm(events), ddl
        schema = T.StructType(
            list(t.schema().to_spark().fields)
            + [T.StructField("_change_type", T.StringType())])
        reader = IcelakePartitionStreamReader(
            {"path": t.path, "changelog": "true"}, schema)
        stream = [r for p in reader.partitions(
                      {"seq": 0}, {"seq": _stream_end_offset(t)})
                  for r in arrow_rows(reader.read(p))]
        assert norm(stream) == norm(events), ddl
