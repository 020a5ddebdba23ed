"""The writer tree (write.py): delete files carry field ids and stats,
the stream sink writes through the Arrow lane, equality-delete sizing
does not depend on AQE, and stream reads follow the append-only rule."""

import pyarrow.parquet as pq
import pytest

from icelake_spark.types import Schema
from icelake_spark.types.datatypes import LONG, decode_bound

FIELD_ID = b"PARQUET:field_id"


def _file_ids(path):
    return {f.name: int(f.metadata[FIELD_ID]) for f in pq.read_schema(path)}


def test_delete_files_carry_field_ids_and_stats(spark, warehouse):
    """Position deletes carry the spec's reserved ids (file_path,
    pos, row) and equality deletes their key's table id; both manifest
    entries carry counts and bounds like a data file's."""
    from icelake_spark.delta import upsert

    src = spark.createDataFrame([(i, str(i)) for i in range(20)],
                                "id long, v string")
    t = warehouse.create_table("db.delids", Schema.from_spark(src.schema),
                               properties={
                                   "write.position-delete.include-row": "true"})
    t.append(src)
    upsert(t.refresh(), spark.createDataFrame([(1, "one"), (2, "two")],
                                              "id long, v string"),
           key_cols=["id"])
    t = t.refresh()
    t.delete_where(spark, "id = 10")
    t = t.refresh()
    _, pos, eq = t.new_scan().plan_files(spark)
    id_fid = t.schema().field_by_name("id").field_id
    assert [_file_ids(d.delete_file.file_path) for d in pos] == [
        {"file_path": 2147483546, "pos": 2147483545, "row": 2147483544}]
    assert [_file_ids(d.delete_file.file_path) for d in eq] == [{"id": id_fid}]
    (p,), (e,) = [d.delete_file for d in pos], [d.delete_file for d in eq]
    assert p.value_counts[2147483545] == 1
    assert p.lower_bounds[2147483545] == p.upper_bounds[2147483545]
    assert p.lower_bounds[2147483546]
    assert e.value_counts == {id_fid: 2} and e.equality_ids == [id_fid]
    assert (decode_bound(LONG, e.lower_bounds[id_fid]),
            decode_bound(LONG, e.upper_bounds[id_fid])) == (1, 2)
    assert sorted(r.id for r in t.to_df(spark).collect()) == [
        i for i in range(20) if i != 10]


def test_stream_sink_stamps_nested_field_ids(spark, warehouse, tmp_path):
    """writeStream.format("icelake") writes through the Arrow lane:
    a struct member carries its own PARQUET:field_id."""
    from icelake_spark import datasource

    datasource.register(spark)
    src = spark.createDataFrame([(1, (10, "a")), (2, (20, "b"))],
                                "id long, s struct<x: long, y: string>")
    schema = Schema.from_spark(src.schema)
    source_t = warehouse.create_table("db.nest_src", schema)
    sink_t = warehouse.create_table("db.nest_dst", schema)
    source_t.append(src)
    q = (spark.readStream.format("icelake")
         .option("path", source_t.refresh().path).load()
         .writeStream.format("icelake").option("path", sink_t.path)
         .option("checkpointLocation", str(tmp_path / "nck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    sink_t = sink_t.refresh()
    s_field = sink_t.schema().field_by_name("s")
    x_id = s_field.field_type.field("x").field_id
    data, _, _ = sink_t.new_scan().plan_files(spark)
    assert data
    for d in data:
        s_arrow = pq.read_schema(d.data_file.file_path).field("s")
        assert int(s_arrow.metadata[FIELD_ID]) == s_field.field_id
        assert int(s_arrow.type.field("x").metadata[FIELD_ID]) == x_id
        assert d.data_file.value_counts[schema.field_by_name("id").field_id]
    assert sorted((r.id, r.s.x, r.s.y) for r in sink_t.to_df(spark)
                  .collect()) == [(1, 10, "a"), (2, 20, "b")]


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_upsert_eq_delete_file_count_ignores_aqe(spark, warehouse, aqe):
    """A 2-key upsert writes exactly one equality-delete file with AQE
    on or off: the persisted keyed frame is loaded before it is sized."""
    from icelake_spark.delta import upsert

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        src = spark.range(50).selectExpr("id", "cast(id as string) as v")
        t = warehouse.create_table(f"db.eqaqe_{aqe}",
                                   Schema.from_spark(src.schema))
        t.append(src)
        upsert(t.refresh(), spark.createDataFrame(
            [(1, "one"), (2, "two")], "id long, v string"), key_cols=["id"])
        _, _, eq = t.refresh().new_scan().plan_files(spark)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert len(eq) == 1


def test_stream_read_overwrite_rule(spark, warehouse, tmp_path):
    """readStream.format("icelake") follows the batch incremental read's
    rule: an overwrite snapshot (an upsert) fails the stream, with the
    batch read's message, unless skip_overwrite_snapshots=true."""
    from icelake_spark import datasource

    datasource.register(spark)
    t = warehouse.create_table(
        "db.ow_stream", Schema.from_spark(
            spark.createDataFrame([], "id long, v string").schema))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    t = t.refresh()
    first = t.current_snapshot().snapshot_id
    t.upsert(spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string"),
             key_cols=["id"])
    t = t.refresh()

    def drain(name, **opts):
        r = spark.readStream.format("icelake").option("path", t.path)
        for k, v in opts.items():
            r = r.option(k, v)
        q = (r.load().writeStream.format("memory").queryName(name)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        return sorted(tuple(r) for r in spark.table(name).collect())

    with pytest.raises(Exception, match="is an overwrite"):
        drain("ow_plain")
    assert drain("ow_skip", skip_overwrite_snapshots="true") == [
        (1, "a"), (2, "b")]
    with pytest.raises(Exception, match="is an overwrite") as batch_err:
        (spark.read.format("icelake").option("path", t.path)
         .option("start_snapshot_id", str(first)).load().collect())
    assert "skip_overwrite_snapshots" in str(batch_err.value)


def test_nan_rows_survive_pruning(spark, warehouse):
    """An Arrow-lane file holding [1.0, NaN] records no float bounds or
    statistics (pyarrow's min/max skip NaN), so `x > 5` keeps the NaN
    row, which Spark's semantics return (NaN sorts above every number),
    through the scan filter, a Spark filter and the DataSource. A
    Spark-written file without NaN keeps its bounds and is pruned."""
    from icelake_spark.datasource import register

    register(spark)
    src = spark.createDataFrame([(1, 1.0), (2, float("nan"))],
                                "id long, x double")
    t = warehouse.create_table(
        "db.nanarrow", Schema.from_spark(src.schema),
        properties={"write.parquet.field-id-mode": "arrow"})
    t.append(src.coalesce(1))  # one file holds both values
    t = t.refresh()
    assert [r.id for r in t.to_df(spark, filter="x > 5").collect()] == [2]
    assert [r.id for r in t.to_df(spark).where("x > 5").collect()] == [2]
    assert [r.id for r in spark.read.format("icelake").option("path", t.path)
            .load().where("x > 5").collect()] == [2]

    s = warehouse.create_table("db.nanspark", Schema.from_spark(src.schema))
    s.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, x double"))
    s = s.refresh()
    assert len(s.new_scan(filter="x > 5").plan_files(spark)[0]) == 0
    assert len(s.new_scan(filter="x > 1").plan_files(spark)[0]) == 1


def test_scoped_conf_overlapping_scopes_keep_the_value():
    """Two overlapping scoped_conf scopes on a session without the conf:
    the second one must still see the value while its action runs,
    after the first scope has restored the session."""
    import threading

    from icelake_spark.ops.util import scoped_conf

    class Conf(dict):
        def set(self, k, v):
            self[k] = v

        def unset(self, k):
            self.pop(k, None)

    class Session:
        conf = Conf()

    key, value = "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    a_in, a_done, b_try = (threading.Event() for _ in range(3))
    seen = []

    def first():
        with scoped_conf(Session, key, value):
            a_in.set()
            b_try.wait(5)
        a_done.set()

    def second():
        a_in.wait(5)
        b_try.set()
        with scoped_conf(Session, key, value):
            a_done.wait(5)
            seen.append(Session.conf.get(key))

    threads = [threading.Thread(target=f) for f in (first, second)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(10)
    assert seen == [value]
    assert key not in Session.conf
