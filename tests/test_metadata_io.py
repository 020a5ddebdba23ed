"""Golden-file tests: load checked-in Iceberg tables (ports of the
reference's table.rs:485-541 asserts) and round-trip our own serde.

Every golden test runs twice: on the small hand-written v1/v2 tables
under tests/fixtures/ (see make_golden.py there), and on the reference's
Spark-written tables when that checkout is present."""

import json
import os

import pytest

from icelake_spark import IcebergTable, avro_io
from icelake_spark.types import Schema, TableMetadata
from icelake_spark.types.manifest import read_manifest, read_manifest_list

SIMPLE = "/root/reference/testdata/simple_table"
REFERENCE = os.path.dirname(SIMPLE)
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures")

golden = pytest.mark.parametrize("root", [
    pytest.param(FIXTURES, id="fixtures"),
    pytest.param(REFERENCE, id="reference", marks=pytest.mark.skipif(
        not os.path.isdir(REFERENCE),
        reason="reference golden tables absent: loses the check against "
               "Spark-written tables (Java-writer metadata JSON, Avro "
               "manifests and parquet); tests/fixtures covers the same "
               "assertions on hand-written tables")),
])


@golden
def test_load_simple_table_versions(root):
    # table.rs:485-541: version hint = 2, current metadata v2
    t = IcebergTable.load(os.path.join(root, "simple_table"))
    assert t.current_version == 2
    assert t.metadata.format_version == 1
    assert len(t.metadata.snapshots) == 1
    snap = t.current_snapshot()
    assert snap.snapshot_id == 1646658105718557341
    schema = t.schema()
    assert [f.name for f in schema.fields] == ["id", "data"]
    assert schema.field_by_name("id").field_id == 1


@golden
def test_load_no_hint_table(root, spark):
    # no version-hint.text: the highest metadata version wins
    t = IcebergTable.load(os.path.join(root, "no_hint_table"))
    assert t.current_version == 5
    assert len(t.metadata.snapshots) == 4
    assert t.current_snapshot() is not None
    # record totals 3 -> 6 -> 4 -> 6, and a time-travel read of each
    # snapshot returns exactly its total
    snaps = sorted(t.metadata.snapshots, key=lambda s: s.timestamp_ms)
    totals = [int(s.summary["total-records"]) for s in snaps]
    assert totals == [3, 6, 4, 6]
    assert [t.new_scan(snapshot_id=s.snapshot_id).to_df(spark).count()
            for s in snaps] == totals


@golden
def test_metadata_json_roundtrip(root):
    with open(os.path.join(root, "simple_table", "metadata",
                           "v2.metadata.json")) as f:
        raw = json.load(f)
    md = TableMetadata.from_json_dict(raw)
    out = md.to_json_dict()
    # identity on the semantic core
    for key in ("format-version", "table-uuid", "location", "last-updated-ms",
                "last-column-id", "current-snapshot-id", "default-spec-id"):
        assert out[key] == raw[key], key
    assert out["schemas"] == raw["schemas"]
    assert out["partition-specs"] == raw["partition-specs"]
    snaps_ours = {s["snapshot-id"]: s for s in out["snapshots"]}
    for s in raw["snapshots"]:
        ours = snaps_ours[s["snapshot-id"]]
        assert ours["manifest-list"] == s["manifest-list"]
        assert ours["summary"] == s["summary"]
    # and it reparses, byte-stable: our own output re-serializes
    # to identical bytes
    again = TableMetadata.from_json(md.to_json())
    assert again.table_uuid == md.table_uuid
    assert again.to_json() == md.to_json()


@golden
def test_manifest_roundtrip_golden(root):
    t = IcebergTable.load(os.path.join(root, "simple_table"))
    snap = t.current_snapshot()
    ml = t._resolve(snap.manifest_list)
    entries = read_manifest_list(ml)
    assert len(entries) == 1
    assert entries[0].added_files_count == 3
    meta, mentries = read_manifest(t._resolve(entries[0].manifest_path))
    assert len(mentries) == 3
    assert all(e.data_file.record_count == 1 for e in mentries)
    # avro codec round-trip of the real file
    schema, records = avro_io.read_avro(t._resolve(entries[0].manifest_path))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "rt.avro")
        avro_io.write_avro(p, schema, records)
        _, records2 = avro_io.read_avro(p)
        assert records2 == records


def test_write_manifest_populates_min_sequence_number():
    """write_manifest(sequence_number=seq) must return the manifest-list
    entry with sequence_number AND min_sequence_number filled (no
    caller-side patching): min over entry seqs, None entries inheriting
    the commit seq."""
    import tempfile

    from icelake_spark.types import Schema
    from icelake_spark.types.datatypes import (NestedField, PrimitiveType,
                                               StructType)
    from icelake_spark.types.manifest import (DataFile, ManifestEntry,
                                              PartitionSpec, write_manifest)

    schema = Schema(StructType(
        (NestedField(1, "id", PrimitiveType("long"), True),)), 0)
    spec = PartitionSpec(0, ())

    def df(path):
        return DataFile(file_path=path, file_format="PARQUET", partition={},
                        record_count=1, file_size_in_bytes=10)

    with tempfile.TemporaryDirectory() as d:
        # explicit seqs only: min of them
        mle = write_manifest(
            os.path.join(d, "m1.avro"),
            [ManifestEntry(1, df("a"), 7, 5), ManifestEntry(1, df("b"), 7, 3)],
            spec, schema, snapshot_id=7, sequence_number=9)
        assert mle.sequence_number == 9 and mle.min_sequence_number == 3
        # a None-seq entry inherits the commit seq (here lower than 5)
        mle = write_manifest(
            os.path.join(d, "m2.avro"),
            [ManifestEntry(1, df("a"), 7, 5), ManifestEntry(1, df("b"), 7, None)],
            spec, schema, snapshot_id=7, sequence_number=2)
        assert mle.min_sequence_number == 2
        # seq 0 is valid and must not be coalesced away
        mle = write_manifest(
            os.path.join(d, "m3.avro"),
            [ManifestEntry(1, df("a"), 7, 0)],
            spec, schema, snapshot_id=7, sequence_number=4)
        assert mle.sequence_number == 4 and mle.min_sequence_number == 0


@golden
def test_load_partition_table_golden(root, spark):
    """Third golden table: a partitioned Iceberg table."""
    t = IcebergTable.load(os.path.join(root, "partition_table"))
    assert t.current_snapshot() is not None
    spec = t.metadata.default_spec()
    assert spec.fields  # actually partitioned
    data, _, _ = t.new_scan().plan_files()
    assert data
    # partition values decoded for every planned file
    assert all(task.data_file.partition for task in data)
    df = t.to_df(spark)
    assert df.count() == sum(task.data_file.record_count for task in data)
    # partition pruning by the first partition field's first value
    pf = spec.fields[0]
    val = data[0].data_file.partition[pf.name]
    pruned, _, _ = t.new_scan(partition_filter={pf.name: val}).plan_files()
    assert 0 < len(pruned) <= len(data)


@golden
def test_schema_spark_conversion_roundtrip(root):
    t = IcebergTable.load(os.path.join(root, "simple_table"))
    st = t.schema().to_spark()
    back = Schema.from_spark(st)
    assert [f.name for f in back.fields] == [f.name for f in t.schema().fields]
    assert [str(f.field_type) for f in back.fields] == \
        [str(f.field_type) for f in t.schema().fields]
