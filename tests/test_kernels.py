"""Kernel unit tests: murmur3 + transforms against the Iceberg-spec
vectors the reference uses (bucket.rs:152-230, truncate.rs:83-157)."""

import datetime as dt
from decimal import Decimal

import numpy as np
from pyspark.sql import functions as F
import pytest

from icelake_spark import murmur3 as m
from icelake_spark.types import datatypes as dty
from icelake_spark.types.transforms import apply_transform_py, parse_transform


def test_murmur3_spec_vectors():
    assert m.hash_int(34) == 2017239379
    assert m.hash_long(34) == 2017239379
    assert m.hash_decimal(1420) == -500754589
    days = (dt.date(2017, 11, 16) - dt.date(1970, 1, 1)).days
    assert m.hash_long(days) == -653330422
    micros_time = (22 * 3600 + 31 * 60 + 8) * 1_000_000
    assert m.hash_long(micros_time) == -662762989
    ts = int((dt.datetime(2017, 11, 16, 22, 31, 8)
              - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    assert m.hash_long(ts) == -2047944441
    assert m.hash_str("iceberg") == 1210000089
    uuid_bytes = bytes([0xF7, 0x9C, 0x3E, 0x09, 0x67, 0x7C, 0x4B, 0xBD,
                        0xA4, 0x79, 0x3F, 0x34, 0x9C, 0xB7, 0x85, 0xE7])
    assert m.hash_bytes(uuid_bytes) == 1488055340
    assert m.hash_bytes(bytes([0, 1, 2, 3])) == -188683207


def test_murmur3_vectorized_matches_scalar():
    rng = np.random.default_rng(42)
    vals = rng.integers(-(2**62), 2**62, size=1000, dtype=np.int64)
    vec = m.hash_long_vec(vals)
    for i in range(0, 1000, 97):
        assert int(vec[i]) == m.hash_long(int(vals[i]))


def test_parse_transform():
    assert parse_transform("bucket[16]") == ("bucket", 16)
    assert parse_transform("truncate[4]") == ("truncate", 4)
    assert parse_transform("year") == ("year", None)
    with pytest.raises(ValueError):
        parse_transform("bucket[]")


def test_truncate_py_reference_cases():
    # truncate.rs:83-157 cases
    assert apply_transform_py("truncate[10]", 1, dty.INT) == 0
    assert apply_transform_py("truncate[10]", -1, dty.INT) == -10
    assert apply_transform_py("truncate[10]", 9, dty.INT) == 0
    assert apply_transform_py("truncate[10]", 10, dty.INT) == 10
    assert apply_transform_py("truncate[10]", 11, dty.INT) == 10
    assert apply_transform_py("truncate[10]", -12, dty.LONG) == -20
    d = dty.decimal_type(9, 2)
    assert apply_transform_py("truncate[50]", Decimal("10.65"), d) == Decimal("10.50")
    assert apply_transform_py("truncate[3]", "iceberg", dty.STRING) == "ice"


def test_temporal_py():
    d = dt.date(2017, 11, 16)
    assert apply_transform_py("year", d, dty.DATE) == 47
    assert apply_transform_py("month", d, dty.DATE) == 47 * 12 + 10
    assert apply_transform_py("day", d, dty.DATE) == (d - dt.date(1970, 1, 1)).days
    ts = dt.datetime(2017, 11, 16, 22, 31, 8)
    assert apply_transform_py("hour", ts, dty.TIMESTAMP) == \
        (d - dt.date(1970, 1, 1)).days * 24 + 22
    # pre-1970 exactness (the reference's float bug regression)
    old = dt.datetime(1969, 12, 31, 23, 0, 0)
    assert apply_transform_py("hour", old, dty.TIMESTAMP) == -1
    assert apply_transform_py("day", dt.date(1969, 12, 31), dty.DATE) == -1


def test_bucket_py_spec_values():
    assert apply_transform_py("bucket[100]", 34, dty.INT) == 2017239379 % 100
    assert apply_transform_py("bucket[100]", "iceberg", dty.STRING) == 1210000089 % 100
    d = dty.decimal_type(9, 2)
    assert apply_transform_py("bucket[100]", Decimal("14.20"), d) == (-500754589 & 0x7FFFFFFF) % 100


def test_spark_transform_columns(spark):
    """Spark Column transforms agree with the python kernels row-by-row."""
    import pandas as pd
    from pyspark.sql import functions as F

    from icelake_spark.types.transforms import transform_column

    rows = [(34, 34, "iceberg", dt.date(2017, 11, 16),
             dt.datetime(2017, 11, 16, 22, 31, 8), Decimal("14.20")),
            (0, -12, "spark", dt.date(1969, 12, 31),
             dt.datetime(1969, 12, 31, 23, 0, 0), Decimal("-10.65")),
            (None, None, None, None, None, None)]
    df = spark.createDataFrame(
        rows, "i int, l long, s string, d date, ts timestamp_ntz, dec decimal(9,2)")
    dec_t = dty.decimal_type(9, 2)
    out = df.select(
        transform_column("bucket[16]", F.col("i"), dty.INT).alias("b_i"),
        transform_column("bucket[16]", F.col("l"), dty.LONG).alias("b_l"),
        transform_column("bucket[16]", F.col("s"), dty.STRING).alias("b_s"),
        transform_column("bucket[16]", F.col("d"), dty.DATE).alias("b_d"),
        transform_column("bucket[16]", F.col("ts"), dty.TIMESTAMP).alias("b_ts"),
        transform_column("bucket[16]", F.col("dec"), dec_t).alias("b_dec"),
        transform_column("truncate[10]", F.col("l"), dty.LONG).alias("t_l"),
        transform_column("truncate[3]", F.col("s"), dty.STRING).alias("t_s"),
        transform_column("truncate[50]", F.col("dec"), dec_t).alias("t_dec"),
        transform_column("year", F.col("d"), dty.DATE).alias("y"),
        transform_column("month", F.col("d"), dty.DATE).alias("mo"),
        transform_column("day", F.col("ts"), dty.TIMESTAMP).alias("dd"),
        transform_column("hour", F.col("ts"), dty.TIMESTAMP).alias("hh"),
        transform_column("void", F.col("i"), dty.INT).alias("v"),
    ).collect()
    for row, src in zip(out, rows):
        i, l, s, d, ts, dec = src
        assert row.b_i == apply_transform_py("bucket[16]", i, dty.INT)
        assert row.b_l == apply_transform_py("bucket[16]", l, dty.LONG)
        assert row.b_s == apply_transform_py("bucket[16]", s, dty.STRING)
        assert row.b_d == apply_transform_py("bucket[16]", d, dty.DATE)
        assert row.b_ts == apply_transform_py("bucket[16]", ts, dty.TIMESTAMP)
        assert row.b_dec == apply_transform_py("bucket[16]", dec, dec_t)
        assert row.t_l == apply_transform_py("truncate[10]", l, dty.LONG)
        assert row.t_s == apply_transform_py("truncate[3]", s, dty.STRING)
        assert row.t_dec == apply_transform_py("truncate[50]", dec, dec_t)
        assert row.y == apply_transform_py("year", d, dty.DATE)
        assert row.mo == apply_transform_py("month", d, dty.DATE)
        assert row.dd == apply_transform_py("day", ts, dty.TIMESTAMP)
        assert row.hh == apply_transform_py("hour", ts, dty.TIMESTAMP)
        assert row.v is None


def test_bounds_roundtrip():
    cases = [
        (dty.INT, 42), (dty.LONG, -(2**40)), (dty.FLOAT, 1.5), (dty.DOUBLE, -2.25),
        (dty.STRING, "héllo"), (dty.BOOLEAN, True),
        (dty.DATE, dt.date(2024, 2, 29)),
        (dty.TIMESTAMP, dt.datetime(2024, 2, 29, 12, 30, 45, 123456)),
        (dty.decimal_type(10, 3), Decimal("-1234.567")),
        (dty.BINARY, b"\x00\x01"),
    ]
    for t, v in cases:
        assert dty.decode_bound(t, dty.encode_bound(t, v)) == v


def test_decimal_bounds_are_minimal_twos_complement():
    """Appendix D: decimal bounds use the MINIMUM number of bytes —
    exact negative powers of two must not carry a redundant sign byte
    (review r10: -128 encoded as 0xFF80 instead of 0x80)."""
    t = dty.decimal_type(10, 2)
    for v, want_hex in [("-1.28", "80"), ("1.27", "7f"), ("1.28", "0080"),
                        ("0.00", "00"), ("-0.01", "ff"),
                        ("-327.68", "8000")]:
        b = dty.encode_bound(t, v)
        assert b.hex() == want_hex, (v, b.hex())
        assert dty.decode_bound(t, b) == Decimal(v)


def test_bucket_uuid_hashes_16_byte_form():
    # spec Appendix B: uuid f79c3e09-677c-4bbd-a479-3f349cb785e7 hashes
    # as its 16-byte big-endian representation → 1488055340 (not the
    # hyphenated-string UTF-8 bytes)
    u = "f79c3e09-677c-4bbd-a479-3f349cb785e7"
    assert apply_transform_py("bucket[100]", u, dty.UUID) == 1488055340 % 100


def test_hash_decimal_minimal_twos_complement_boundaries():
    # Java BigInteger.toByteArray() minimal encoding: exact negative
    # boundaries need no extra sign byte (advice r1, murmur3.py)
    assert m.hash_decimal(-128) == m.hash_bytes(b"\x80")
    assert m.hash_decimal(-32768) == m.hash_bytes(b"\x80\x00")
    assert m.hash_decimal(-129) == m.hash_bytes(b"\xff\x7f")
    assert m.hash_decimal(-1) == m.hash_bytes(b"\xff")
    assert m.hash_decimal(0) == m.hash_bytes(b"\x00")
    assert m.hash_decimal(127) == m.hash_bytes(b"\x7f")
    assert m.hash_decimal(128) == m.hash_bytes(b"\x00\x80")
    assert m.hash_decimal(255) == m.hash_bytes(b"\x00\xff")


def test_apply_transform_py_aware_datetimes_use_utc(spark):
    """Aware filter values must transform from the UTC instant: local
    wall-clock fields can land on a different day/bucket entirely and
    silently prune the files that hold the matching rows (review r3)."""
    import datetime as dt

    from icelake_spark.types.datatypes import PrimitiveType
    from icelake_spark.types.transforms import apply_transform_py

    tstz = PrimitiveType("timestamptz")
    plus5 = dt.timezone(dt.timedelta(hours=5))
    aware = dt.datetime(2020, 6, 1, 2, 0, tzinfo=plus5)   # = 2020-05-31T21:00Z
    utc_naive = dt.datetime(2020, 5, 31, 21, 0)
    for tr in ("day", "hour", "month", "year", "bucket[16]"):
        assert apply_transform_py(tr, aware, tstz) == \
            apply_transform_py(tr, utc_naive, tstz), tr


def test_bucket_long_exact_above_2_53_with_nulls(spark):
    """A null in the Arrow batch used to convert the whole int64 column
    to float64, corrupting snowflake-scale ids before hashing — the
    bucket value must match the exact python-side kernel (review r3)."""
    from icelake_spark.types.datatypes import PrimitiveType
    from icelake_spark.types.transforms import apply_transform_py, bucket_column

    big = 900719925474099177  # not representable in float64
    df = spark.createDataFrame([(big,), (None,), (1,)], "v long")
    got = {r.v: r.b for r in df.select(
        "v", bucket_column(F.col("v"), PrimitiveType("long"), 1000)
        .alias("b")).collect()}
    assert got[big] == apply_transform_py("bucket[1000]", big,
                                          PrimitiveType("long"))
    assert got[None] is None
    assert got[1] == apply_transform_py("bucket[1000]", 1,
                                        PrimitiveType("long"))


def test_portable_hash_families_match_python_md5(spark):
    """The portable (oracle-checkable) hash families must equal the
    neutral spec — pure-Python hashlib md5 over UTF-8 bytes — for
    unicode, whitespace, and long inputs; this is the contract that
    makes the DuckDB twins exact (both engines md5 the same bytes)."""
    import hashlib

    from icelake_spark.ops.dedup import MINHASH_P, portable_hash60

    samples = ["hello world", "naïve café über", "日本語 テキスト",
               "a" * 5000, "tab\tand  runs", "mixed ASCII + ünïcödé 42"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")

    # portable_hash60 == first 15 md5 hex chars as int
    got60 = {r.s: r.h for r in df.select(
        "s", portable_hash60(F.col("s")).alias("h")).collect()}
    for s in samples:
        exp = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        assert got60[s] == exp, s

    # affine minhash lane bases == md5 hex chunks [0:8) and [8:16) mod P
    h0c = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long") % MINHASH_P
    h1c = F.conv(F.substring(F.md5("s"), 9, 8), 16, 10).cast("long") % MINHASH_P
    got = {r.s: (r.h0, r.h1) for r in df.select(
        "s", h0c.alias("h0"), h1c.alias("h1")).collect()}
    for s in samples:
        d = hashlib.md5(s.encode("utf-8")).hexdigest()
        exp = (int(d[0:8], 16) % MINHASH_P, int(d[8:16], 16) % MINHASH_P)
        assert got[s] == exp, s
        # derived lanes stay in int64 and non-negative for every i
        for i in (0, 1, 31, 63):
            lane = (exp[0] + i * exp[1]) % MINHASH_P
            assert 0 <= lane < MINHASH_P


def test_filter_double_equals_prunes_correctly(spark, tmp_path):
    """'col==literal' (no spaces) must parse as equality — the old
    alternation absorbed the second '=' into the literal and PRUNED
    files that matched (silent data loss)."""
    from icelake_spark import StorageCatalog
    from icelake_spark.types import Schema

    cat = StorageCatalog(str(tmp_path / "wh"))
    src = spark.createDataFrame([(i, f"n{i % 3}") for i in range(30)],
                                "id long, name string")
    t = cat.create_table("d.eqeq", Schema.from_spark(src.schema))
    t.append(src)
    rows = t.new_scan(filter="name=='n1'").to_df(spark).collect()
    assert len(rows) == 10 and all(r.name == "n1" for r in rows)


def test_partition_value_avro_uses_utc_epoch():
    """An aware timestamptz partition value must store true UTC micros,
    agreeing with encode_bound (the FieldSummary side)."""
    import datetime as dt

    from icelake_spark.types.datatypes import PrimitiveType
    from icelake_spark.types.manifest import _pv_to_avro

    tz5 = dt.timezone(dt.timedelta(hours=5))
    v = dt.datetime(2020, 1, 1, tzinfo=tz5)
    micros = _pv_to_avro(v, PrimitiveType("timestamptz"))
    assert micros == int(v.timestamp() * 1_000_000) == 1577818800000000


def test_partition_filter_string_coercion_and_degradation(spark, tmp_path):
    """A convenience string filter on a date partition coerces and
    prunes; an unusable value degrades to no pruning (never to a crash
    or an empty scan)."""
    import datetime as dt

    from icelake_spark import StorageCatalog
    from icelake_spark.types import PartitionField, PartitionSpec, Schema

    cat = StorageCatalog(str(tmp_path / "wh2"))
    src = spark.createDataFrame(
        [(i, dt.date(2024, 1 + i % 3, 1)) for i in range(12)],
        "id long, d date")
    schema = Schema.from_spark(src.schema)
    spec = PartitionSpec(0, (PartitionField(
        schema.field_by_name("d").field_id, 1000, "month", "d_month"),))
    t = cat.create_table("d.coerce", schema, spec=spec)
    t.append(src)
    # ISO string coerces to date, transforms, prunes to one month
    got = t.new_scan(partition_filter={"d": "2024-02-01"}).to_df(spark)
    assert sorted(r.d.month for r in got.collect()) == [2, 2, 2, 2]
    # garbage value: no pruning, full scan (not empty, not a crash)
    assert t.new_scan(partition_filter={"d": "not-a-date"}) \
        .to_df(spark).count() == 12


def test_legacy_v1_partition_field_ids_assigned():
    """v1 metadata without field-id keys gets 1000+ordinal, not 0s."""
    from icelake_spark.types.metadata import PartitionSpec

    spec = PartitionSpec.from_json({"fields": [
        {"source-id": 1, "transform": "identity", "name": "a"},
        {"source-id": 2, "transform": "bucket[4]", "name": "b"},
    ]})
    assert [f.partition_field_id for f in spec.fields] == [1000, 1001]


def test_snapshot_as_of_skips_wap_staged(spark, tmp_path):
    """Timestamp time travel must never resolve to an unpublished
    branch-staged snapshot."""
    import time

    from icelake_spark import StorageCatalog
    from icelake_spark.transaction import Transaction
    from icelake_spark.types import Schema
    from icelake_spark.write import write_data_files

    cat = StorageCatalog(str(tmp_path / "wh3"))
    src = spark.createDataFrame([(1,)], "id long")
    t = cat.create_table("d.wap", Schema.from_spark(src.schema))
    t.append(src)
    main_head = t.current_snapshot().snapshot_id
    files = write_data_files(t, spark.createDataFrame([(2,)], "id long"))
    tx = Transaction(t, branch="audit")
    tx.add_data_files(files)
    tx.commit("append")
    t.refresh()
    later = int(time.time() * 1000) + 60_000
    got = t.metadata.snapshot_as_of(later)
    assert got is not None and got.snapshot_id == main_head


def test_hash_bytes_vec_property():
    """Vectorized variable-length murmur3 == scalar, over random inputs
    including empties, all tail lengths, and >16-byte strings."""
    import random

    import numpy as np

    from icelake_spark import murmur3 as m

    rng = random.Random(42)
    items = [bytes(rng.randrange(256) for _ in range(rng.randrange(0, 67)))
             for _ in range(4000)] + [b"", b"a", b"ab", b"abc", b"abcd"]
    buf = np.frombuffer(b"".join(items), dtype=np.uint8)
    lengths = np.array([len(x) for x in items], dtype=np.int64)
    starts = np.zeros(len(items), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    vec = m.hash_bytes_vec(buf, starts, lengths)
    assert (vec == np.array([m.hash_bytes(x) for x in items],
                            dtype=np.int32)).all()


def test_decimal_minimal_be_vec_property():
    import random

    import numpy as np

    from icelake_spark import murmur3 as m

    rng = random.Random(7)
    vals = [0, 1, -1, 127, 128, -128, -129, 255, -256, 2**53 + 1,
            -(2**62)] + [rng.randrange(-10**37, 10**37) for _ in range(3000)]
    le = np.zeros((len(vals), 16), dtype=np.uint8)
    for i, v in enumerate(vals):
        le[i] = np.frombuffer(v.to_bytes(16, "little", signed=True),
                              dtype=np.uint8)
    b, s, l = m.int128_minimal_be_vec(le)
    vec = m.hash_bytes_vec(b, s, l)
    assert (vec == np.array([m.hash_decimal(v) for v in vals],
                            dtype=np.int32)).all()


def test_bucket_uuid_binary_spark(spark):
    """uuid + binary bucket lanes through Spark match apply_transform_py
    (the uuid lane's numpy hex decode vs the scalar uuid.UUID path)."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from icelake_spark.types.transforms import (apply_transform_py,
                                                bucket_column)

    rows = [(str(_uuid.uuid4()).upper() if i % 3 == 0 else str(_uuid.uuid4()),
             bytes([i % 256, (i * 7) % 256, (i * 13) % 256][: 1 + i % 3]))
            for i in range(50)] + [(None, None)]
    df = spark.createDataFrame(rows, "u string, b binary")
    out = df.select(
        bucket_column(F.col("u"), dty.UUID, 64).alias("bu"),
        bucket_column(F.col("b"), dty.BINARY, 64).alias("bb")).collect()
    for row, (u, b) in zip(out, rows):
        assert row.bu == apply_transform_py("bucket[64]", u, dty.UUID)
        assert row.bb == apply_transform_py("bucket[64]", b, dty.BINARY)


def test_bucket_vectorized_speedup():
    """The numpy string lane must beat the old per-row path ≥5× — a
    bucket[N]-partitioned 100 TB ingest pays this per row."""
    import time

    import numpy as np
    import pandas as pd

    from icelake_spark import murmur3 as m

    n_rows = 1_000_000
    words = pd.Series([f"document-{i % 9973}-{i}" for i in range(n_rows)])

    import pyarrow as pa

    # best-of-3 on BOTH sides: this sandbox's shared CPU can inflate an
    # identical numpy pass 0.3s -> 7.5s (measured r9); min-of-N is the
    # kernel's true cost, and taking it for the per-row side too keeps
    # the comparison honest
    t_vec = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        arr = pa.array(words)
        bufs = arr.buffers()
        offsets = np.frombuffer(bufs[1], dtype=np.int32).astype(np.int64)
        data = np.frombuffer(bufs[2], dtype=np.uint8)
        vec = m.hash_bytes_vec(data, offsets[:-1], offsets[1:] - offsets[:-1])
        t_vec = min(t_vec, time.perf_counter() - t0)

    sample = words.iloc[:100_000]
    t_row = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        scal = sample.map(m.hash_str)
        t_row = min(t_row, (time.perf_counter() - t0) * (n_rows / len(sample)))

    assert (vec[:100_000] == scal.to_numpy(dtype=np.int32)).all()
    assert t_row / t_vec >= 5, f"vectorized {t_vec:.3f}s vs per-row {t_row:.3f}s"


def test_hash_bytes_vec_hypothesis():
    """Property: vectorized murmur3 == scalar for ANY batch of byte
    strings, and the int128 minimal-BE encoder == Java BigInteger
    semantics for ANY unscaled decimal."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from icelake_spark import murmur3 as m

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.binary(min_size=0, max_size=64), min_size=1,
                    max_size=50))
    def check_bytes(items):
        buf = np.frombuffer(b"".join(items), dtype=np.uint8)
        lengths = np.array([len(x) for x in items], dtype=np.int64)
        starts = np.zeros(len(items), dtype=np.int64)
        np.cumsum(lengths[:-1], out=starts[1:])
        vec = m.hash_bytes_vec(buf, starts, lengths)
        assert all(int(v) == m.hash_bytes(x) for v, x in zip(vec, items))

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=-(10**38) + 1,
                                max_value=10**38 - 1),
                    min_size=1, max_size=30))
    def check_decimal(vals):
        le = np.zeros((len(vals), 16), dtype=np.uint8)
        for i, v in enumerate(vals):
            le[i] = np.frombuffer(v.to_bytes(16, "little", signed=True),
                                  dtype=np.uint8)
        b, s, l = m.int128_minimal_be_vec(le)
        vec = m.hash_bytes_vec(b, s, l)
        assert all(int(h) == m.hash_decimal(v) for h, v in zip(vec, vals))

    check_bytes()
    check_decimal()


_INT_FAMILY_DDL = ("i int, l long, t long, d date, ts timestamp_ntz, "
                   "tz timestamp")
_INT_FAMILY = (("i", dty.INT), ("l", dty.LONG), ("t", dty.TIME),
               ("d", dty.DATE), ("ts", dty.TIMESTAMP),
               ("tz", dty.TIMESTAMPTZ))


def _bucket_int_family(spark, rows, n):
    """Rows of (Spark bucket[n], source value) per integer-family column."""
    from icelake_spark.types.transforms import bucket_column

    df = spark.createDataFrame(rows, _INT_FAMILY_DDL)
    out = df.select(*[bucket_column(F.col(c), t, n).alias(c)
                      for c, t in _INT_FAMILY]).collect()
    return [[(r[c], src[k], t) for k, (c, t) in enumerate(_INT_FAMILY)]
            for r, src in zip(out, rows)]


def test_bucket_int_family_matches_python_kernel_property(spark):
    """Property: the JVM bucket of every integer-family source (int,
    long, time, date with pre-1970 days, timestamp_ntz, timestamptz)
    equals apply_transform_py for ANY values, nulls and the long
    extremes included, at N ∈ {1, 16, 1000, 2^31-1}."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def opt(s):
        return st.one_of(st.none(), s)

    offsets = st.integers(-14 * 60, 14 * 60).map(
        lambda m: dt.timezone(dt.timedelta(minutes=m)))
    row = st.tuples(
        opt(st.integers(-(2**31), 2**31 - 1)),
        opt(st.one_of(st.sampled_from([-(2**63), 2**63 - 1, 0, -1, 1]),
                      st.integers(-(2**63), 2**63 - 1))),
        opt(st.integers(0, 86_400_000_000 - 1)),
        opt(st.dates(dt.date(1, 1, 1), dt.date(9999, 12, 31))),
        opt(st.datetimes(dt.datetime(1, 1, 1), dt.datetime(9999, 12, 31))),
        opt(st.datetimes(dt.datetime(2, 1, 1), dt.datetime(9998, 12, 31),
                         timezones=offsets)))
    extremes = [(-(2**31), -(2**63), 0, dt.date(1969, 12, 31),
                 dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
                 dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)),
                (2**31 - 1, 2**63 - 1, 86_400_000_000 - 1,
                 dt.date(1, 1, 1), dt.datetime(9999, 12, 31, 23, 59, 59),
                 dt.datetime(1, 1, 2, tzinfo=dt.timezone.utc)),
                (None,) * 6]

    @settings(max_examples=12, deadline=None)
    @given(st.lists(row, min_size=1, max_size=40),
           st.sampled_from([1, 16, 1000, 2**31 - 1]))
    def check(rows, n):
        for cells in _bucket_int_family(spark, rows + extremes, n):
            for got, v, t in cells:
                assert got == apply_transform_py(f"bucket[{n}]", v, t), \
                    (t, v, n)

    check()


def test_bucket_int_family_spec_vectors_through_spark(spark):
    """Iceberg spec Appendix B hash vectors through the Spark path:
    at N = 2^31-1 a bucket IS the hash's low 31 bits."""
    n = 2**31 - 1
    micros_time = (22 * 3600 + 31 * 60 + 8) * 1_000_000
    rows = [(34, 34, micros_time, dt.date(2017, 11, 16),
             dt.datetime(2017, 11, 16, 22, 31, 8),
             dt.datetime(2017, 11, 16, 14, 31, 8,
                         tzinfo=dt.timezone(dt.timedelta(hours=-8))))]
    (cells,) = _bucket_int_family(spark, rows, n)
    want = [2017239379, 2017239379, -662762989, -653330422,
            -2047944441, -2047944441]
    assert [got for got, _, _ in cells] == [(h & 0x7FFFFFFF) % n
                                            for h in want]


def test_bucket_int_long_is_jvm_expression(spark):
    """int/long buckets run in the JVM: no Python evaluation node."""
    from icelake_spark.types.transforms import bucket_column

    df = spark.createDataFrame([(1, 2)], "i int, l long")
    plan = df.select(bucket_column(F.col("i"), dty.INT, 16),
                     bucket_column(F.col("l"), dty.LONG, 16)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "EvalPython" not in plan, plan
