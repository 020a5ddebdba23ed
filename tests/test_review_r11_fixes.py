"""Regression tests for the round-11 module-sweep review findings
(planning.py / types/manifest.py / table.py): partition-filter value
coercion on identity fields, dropped-partition-source manifest
rewrites, tag immutability through create_ref, and equality-delete key
resolution under time travel across a rename."""

import datetime as dt

import pytest
from pyspark.sql import functions as F  # noqa: F401

from icelake_spark.types import Schema


def test_partition_filter_string_coerces_on_identity_field(
        spark, warehouse):
    """A convenience STRING value for an identity partition field (the
    field name equals the source column name, so the partition-name
    partition field resolves it) must coerce to the
    partition value type instead of silently pruning every file
    (str != date for each file) — review r11; the docstring's
    skip-don't-mangle promise previously applied only to the
    source-column-name branch."""
    src = spark.createDataFrame(
        [(1, "2024-01-05"), (2, "2024-02-10"), (3, "2024-01-05")],
        "id long, d string").selectExpr("id", "cast(d as date) as d")
    t = warehouse.create_table("db.pfcoerce", Schema.from_spark(src.schema))
    t = t.refresh()
    t.update_spec("d")
    t = t.refresh()
    t.append(src)
    t = t.refresh()
    got = sorted(r.id for r in
                 t.new_scan(partition_filter={"d": "2024-01-05"})
                 .to_df(spark).collect())
    assert got == [1, 3], got
    # the native-typed value keeps working
    got2 = sorted(r.id for r in
                  t.new_scan(partition_filter={"d": dt.date(2024, 1, 5)})
                  .to_df(spark).collect())
    assert got2 == [1, 3], got2
    # an uncoercible value is SKIPPED by BOTH pruning and the residual
    # (the documented degrade contract): the key is ignored — all rows
    # return, nothing crashes, and critically pruning and the residual
    # AGREE (the data-loss mode is one side skipping while the other
    # prunes)
    got3 = sorted(r.id for r in
                  t.new_scan(partition_filter={"d": "not-a-date"})
                  .to_df(spark).collect())
    assert got3 == [1, 2, 3], got3


def test_rewrite_manifest_after_dropping_partition_source(
        spark, warehouse):
    """Rewriting old-spec manifests whose partition SOURCE column was
    dropped must not crash on the partition values: the Avro type
    degrades to optional string and the VALUES degrade with it
    (review r11 — the r10 guard fixed only the schema side; the first
    delete/compaction after drop_column crashed in _pv_to_avro)."""
    src = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20), (3, "A", 30)],
        "id long, flag string, v long")
    t = warehouse.create_table("db.dropsrc", Schema.from_spark(src.schema))
    t = t.refresh()
    t.update_spec("flag")
    t = t.refresh()
    t.append(src)  # partitioned files with real partition values
    t = t.refresh()
    t.update_spec()  # unpartitioned becomes the default spec
    t = t.refresh()
    t.drop_column("flag")
    t = t.refresh()
    # manifest rewrite touches the old-spec manifest with live entries
    n = t.rewrite_manifests()
    assert n >= 1
    t = t.refresh()
    got = sorted((r.id, r.v) for r in t.to_df(spark).collect())
    assert got == [(1, 10), (2, 20), (3, 30)], got
    # and a CoW delete (another rewrite path) still works
    t.delete_where(spark, "id = 2")
    t = t.refresh()
    got2 = sorted((r.id, r.v) for r in t.to_df(spark).collect())
    assert got2 == [(1, 10), (3, 30)], got2


def test_create_ref_refuses_tag_overwrite_and_retype(spark, warehouse):
    """create_ref enforces the same guard as every other ref mutator
    (review r11): a tag is immutable and a ref never silently changes
    type; branches stay re-pointable; drop_ref reopens the name."""
    src = spark.createDataFrame([(1,)], "id long")
    t = warehouse.create_table("db.refs", Schema.from_spark(src.schema))
    t = t.refresh()
    t.append(src)
    t = t.refresh()
    s1 = t.metadata.current_snapshot_id
    t.append(src)
    t = t.refresh()
    s2 = t.metadata.current_snapshot_id

    t.create_tag("v1", s1)
    t = t.refresh()
    with pytest.raises(ValueError, match="immutable"):
        t.create_tag("v1", s2)
    with pytest.raises(ValueError, match="immutable|type"):
        t.create_branch("v1", s2)
    assert t.refresh().metadata.refs["v1"].snapshot_id == s1

    t.create_branch("dev", s1)
    t = t.refresh()
    t.create_branch("dev", s2)  # branches are mutable pointers
    t = t.refresh()
    assert t.metadata.refs["dev"].snapshot_id == s2
    with pytest.raises(ValueError):
        t.create_tag("dev", s1)  # retype branch -> tag refused

    t.drop_ref("v1")
    t = t.refresh()
    t.create_tag("v1", s2)  # name reopened after drop
    assert t.refresh().metadata.refs["v1"].snapshot_id == s2


def test_time_travel_eq_deletes_across_rename(spark, warehouse):
    """Time travel to a pre-rename snapshot of an upserted table:
    the equality-delete keys must resolve against the SNAPSHOT's
    schema (where the key column still has its old name), not the
    current one (review r11 — df['user_id'] crashed on a frame read
    with the old schema)."""
    from icelake_spark.delta import upsert

    src = spark.createDataFrame(
        [(1, 10), (2, 20)], "id long, v long")
    t = warehouse.create_table("db.ttren", Schema.from_spark(src.schema))
    t = t.refresh()
    t.append(src)
    t = t.refresh()
    upsert(t, spark.createDataFrame([(2, 99)], "id long, v long"),
           key_cols=["id"])
    t = t.refresh()
    pre_rename = t.metadata.current_snapshot_id
    t.rename_column("id", "user_id")
    t = t.refresh()

    got = sorted(tuple(r) for r in
                 t.new_scan(snapshot_id=pre_rename).to_df(spark).collect())
    assert got == [(1, 10), (2, 99)], got
    # current read keeps working under the new name
    cur = sorted((r.user_id, r.v) for r in t.to_df(spark).collect())
    assert cur == [(1, 10), (2, 99)], cur


def test_partition_avro_type_unique_named_types():
    """Two same-length fixed partition fields (or shared-singleton
    uuid fields) must not fully define the same Avro named type twice
    — strict parsers (Java Avro) reject 'Can't redefine' (review
    r11)."""
    import json

    from icelake_spark.types.datatypes import (NestedField, Schema,
                                               StructType, fixed_type)
    from icelake_spark.types.manifest import partition_avro_type
    from icelake_spark.types.metadata import PartitionField, PartitionSpec

    schema = Schema(StructType((
        NestedField(1, "a", fixed_type(16), required=False),
        NestedField(2, "b", fixed_type(16), required=False))))
    spec = PartitionSpec(0, (
        PartitionField(source_column_id=1, partition_field_id=1000,
                       transform="identity", name="a"),
        PartitionField(source_column_id=2, partition_field_id=1001,
                       transform="identity", name="b")))
    rec = partition_avro_type(spec, schema)
    names = []
    for f in rec["fields"]:
        t = f["type"]
        for part in (t if isinstance(t, list) else [t]):
            if isinstance(part, dict) and "name" in part:
                names.append(part["name"])
    assert len(names) == 2 and len(set(names)) == 2, names
    json.dumps(rec)  # serializable schema
