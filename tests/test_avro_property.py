"""Property-based round-trip of the pure-Python Avro codec — the one
fully handwritten serialization layer, so it gets randomized coverage
beyond the golden files."""

import os
import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st

from icelake_spark.avro_io import read_avro, write_avro

RECORD_SCHEMA = {
    "type": "record", "name": "r",
    "fields": [
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "b", "type": "bytes"},
        {"name": "f", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "opt", "type": ["null", "long"], "default": None},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "kv", "type": {"type": "array", "items": {
            "type": "record", "name": "kv",
            "fields": [{"name": "key", "type": "int"},
                       {"name": "value", "type": "bytes"}]}}},
    ],
}

record_st = st.fixed_dictionaries({
    "i": st.integers(-(2**31), 2**31 - 1),
    "l": st.integers(-(2**63), 2**63 - 1),
    "s": st.text(max_size=50),
    "b": st.binary(max_size=50),
    "f": st.floats(allow_nan=False),
    "flag": st.booleans(),
    "opt": st.one_of(st.none(), st.integers(-(2**40), 2**40)),
    "arr": st.lists(st.integers(-(2**40), 2**40), max_size=8),
    "m": st.dictionaries(st.text(min_size=1, max_size=10), st.text(max_size=10),
                         max_size=5),
    "kv": st.lists(st.fixed_dictionaries({
        "key": st.integers(-100, 100), "value": st.binary(max_size=10)}),
        max_size=4),
})


@settings(max_examples=50, deadline=None)
@given(st.lists(record_st, max_size=20), st.sampled_from(["null", "deflate"]))
def test_avro_roundtrip_random_records(records, codec):
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.avro")
        write_avro(p, RECORD_SCHEMA, records, codec=codec)
        schema, back = read_avro(p)
        assert schema == RECORD_SCHEMA
        assert back == records


@settings(max_examples=100, deadline=None)
@given(st.integers(-(2**63), 2**63 - 1))
def test_zigzag_long_roundtrip(v):
    from icelake_spark.avro_io import _Reader, _Writer

    w = _Writer()
    w.write_long(v)
    assert _Reader(w.out.getvalue()).read_long() == v


def test_timestamptz_session_tz_roundtrip_and_utc_storage():
    """timestamptz values arrive session-timezone-naive from mapInPandas;
    the stored micros must be TRUE UTC instants (iceberg spec), and the
    read side must return them session-naive again (advice r2)."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    from icelake_spark.avro_data import _from_avro_value, _to_avro_value
    from icelake_spark.types.datatypes import PrimitiveType

    tstz = PrimitiveType("timestamptz")
    ny = ZoneInfo("America/New_York")
    naive = dt.datetime(2023, 6, 1, 12, 0, 0)  # noon EDT == 16:00 UTC
    micros = _to_avro_value(naive, tstz, ny)
    assert micros == int(dt.datetime(2023, 6, 1, 16, 0,
                                     tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert _from_avro_value(micros, tstz, ny) == naive
    # no tz (UTC session / legacy behavior): naive treated as UTC
    utc_micros = _to_avro_value(naive, tstz, None)
    assert utc_micros == micros - 4 * 3600 * 1_000_000
    # aware inputs are true instants regardless of session zone
    aware = naive.replace(tzinfo=ny)
    assert _to_avro_value(aware, tstz, None) == micros


def test_write_avro_data_returns_committed_paths(spark):
    """write_avro_data inventories by task-returned path list; stray
    files in the stage dir (e.g. from a failed attempt) are not
    registered (advice r2)."""
    from icelake_spark.avro_data import read_avro_data, write_avro_data
    from icelake_spark.types.datatypes import Schema

    df = spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s")
    with tempfile.TemporaryDirectory() as d:
        stage = os.path.join(d, "stage")
        os.makedirs(stage)
        # a stray partial file from a hypothetical dead task attempt
        stray = os.path.join(stage, "part-deadbeef.avro")
        with open(stray, "wb") as f:
            f.write(b"Obj\x01garbage")
        paths = write_avro_data(df, stage, Schema.from_spark(df.schema))
        assert paths and stray not in paths
        assert all(os.path.isfile(p) for p in paths)
        back = read_avro_data(spark, df.schema, paths)
        assert sorted(r.id for r in back.collect()) == list(range(10))


def test_two_fixed_columns_unique_named_types():
    """Two fixed[16] columns must not emit duplicate named-type
    definitions (spec-compliant Avro parsers reject redefinition;
    review r3). Roundtrip still works."""
    from icelake_spark.avro_data import table_avro_schema
    from icelake_spark.types.datatypes import (NestedField, Schema,
                                               StructType, fixed_type)

    schema = Schema(StructType((
        NestedField(1, "a", fixed_type(16), True),
        NestedField(2, "b", fixed_type(16), True))), 0)
    avro = table_avro_schema(schema)
    names = [f["type"]["name"] for f in avro["fields"]]
    assert len(set(names)) == 2, names


def test_count_records_matches_full_decode():
    from icelake_spark.avro_io import count_records, read_avro, write_avro

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "c.avro")
        recs = [{"v": i} for i in range(1234)]
        write_avro(p, {"type": "record", "name": "r",
                       "fields": [{"name": "v", "type": "long"}]}, recs)
        assert count_records(p) == 1234
        assert len(read_avro(p)[1]) == 1234
        write_avro(os.path.join(d, "e.avro"),
                   {"type": "record", "name": "r",
                    "fields": [{"name": "v", "type": "long"}]}, [])
        assert count_records(os.path.join(d, "e.avro")) == 0
