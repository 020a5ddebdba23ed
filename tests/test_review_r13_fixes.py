"""Regression tests for round-13 review-sweep findings."""

import pytest

from icelake_spark.types import Schema


def test_hive_value_marker_collision_roundtrip():
    """All write lanes share one ''-vs-NULL partition encoding: a
    LITERAL "__EMPTY_STRING__" value must round-trip as itself, not
    decode to '' (the direct-write lanes — avro, arrow parquet,
    streaming sink — previously skipped the prefix escape)."""
    from icelake_spark.types.datatypes import STRING
    from icelake_spark.write import (_EMPTY_PART, _esc_empty, _hive_value,
                                     _parse_hive_value)

    cases = ["", _EMPTY_PART, _EMPTY_PART + "x", "plain", "a/b=c%d"]
    for v in cases:
        assert _parse_hive_value(_hive_value(_esc_empty(v)), STRING) == v, v
    assert _parse_hive_value(_hive_value(_esc_empty(None)), STRING) is None
    # pre-r13 bare-'' dirs still decode
    assert _parse_hive_value("", STRING) == ""


def test_arrow_lane_empty_string_partition(spark, warehouse):
    """The arrow parquet writer lane records '' and the literal marker
    as DISTINCT partition values in the manifests."""
    from icelake_spark.types import PartitionField, PartitionSpec

    src = spark.createDataFrame(
        [(1, ""), (2, "__EMPTY_STRING__"), (3, None), (4, "x")],
        "id long, c string")
    schema = Schema.from_spark(src.schema)
    spec = PartitionSpec(0, (PartitionField(
        schema.field_by_name("c").field_id, 1000, "identity", "c"),))
    t = warehouse.create_table(
        "db.arrowpart", schema, spec=spec,
        properties={"write.parquet.field-id-mode": "arrow"})
    t.append(src)
    t = t.refresh()
    data, _, _ = t.new_scan().plan_files(spark)
    parts = sorted((d.data_file.partition or {}).get("c")
                   for d in data if d.data_file.partition
                   and (d.data_file.partition or {}).get("c") is not None)
    assert parts == ["", "__EMPTY_STRING__", "x"]
    assert {r.id for r in t.to_df(spark, partition_filter={"c": ""}).collect()} == {1}
    assert {r.id for r in t.to_df(
        spark, partition_filter={"c": "__EMPTY_STRING__"}).collect()} == {2}


def test_stream_sink_empty_string_partition_distinct(spark, warehouse,
                                                     tmp_path):
    """The streaming sink builds hive dirs from RAW transform values:
    '' and the literal "__EMPTY_STRING__" marker must land as DISTINCT
    partition tuples (review r13 — the sink skipped the layout escape
    the batch writer applies)."""
    from icelake_spark import datasource
    from icelake_spark.types import PartitionField, PartitionSpec

    datasource.register(spark)
    src = spark.createDataFrame(
        [(1, ""), (2, "__EMPTY_STRING__"), (3, None), (4, "x")],
        "id long, c string")
    schema = Schema.from_spark(src.schema)
    spec = PartitionSpec(0, (PartitionField(
        schema.field_by_name("c").field_id, 1000, "identity", "c"),))
    source_t = warehouse.create_table("db.sink_esrc",
                                      Schema.from_spark(src.schema))
    sink_t = warehouse.create_table("db.sink_edst", schema, spec=spec)
    source_t.append(src)
    source_t = source_t.refresh()
    q = (spark.readStream.format("icelake")
         .option("path", source_t.path).load()
         .writeStream.format("icelake").option("path", sink_t.path)
         .option("checkpointLocation", str(tmp_path / "eck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    sink_t = sink_t.refresh()
    data, _, _ = sink_t.new_scan().plan_files(spark)
    parts = sorted((d.data_file.partition or {}).get("c", None)
                   for d in data
                   if (d.data_file.partition or {}).get("c") is not None)
    assert parts == ["", "__EMPTY_STRING__", "x"], parts
    got = {r.id for r in sink_t.to_df(
        spark, partition_filter={"c": ""}).collect()}
    assert got == {1}


def test_pv_to_avro_timestamp_exact_micros():
    """Partition-tuple timestamps encode with exact integer micros —
    the float total_seconds() path drifted +-1us for far-future
    instants, making the manifest partition value disagree with bounds
    computed by the exact encode_bound arithmetic (review r13)."""
    import datetime as dt

    from icelake_spark.types.datatypes import (TIMESTAMP, TIMESTAMPTZ,
                                               encode_bound, decode_bound)
    from icelake_spark.types.manifest import _pv_to_avro

    far = dt.datetime(2243, 10, 17, 1, 2, 3, 654321)
    for t, v in ((TIMESTAMP, far),
                 (TIMESTAMPTZ, far.replace(tzinfo=dt.timezone.utc))):
        micros = _pv_to_avro(v, t)
        # agrees bit-for-bit with the bounds encoder
        assert decode_bound(t, encode_bound(t, v)) == v
        assert encode_bound(t, micros) == encode_bound(t, v), (t.name, micros)
