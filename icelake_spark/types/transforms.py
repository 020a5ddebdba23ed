"""Iceberg partition transforms as Catalyst expressions.

Every transform runs in the JVM except `bucket` over string, uuid,
binary and decimal sources. Identity, truncate and the temporal
transforms compile to built-in Spark SQL functions. `bucket` needs
Iceberg's murmur3 conventions (seed 0, spec byte encodings), which
Spark's `hash()` does not follow (seed 42). For the integer family (int,
long, time, date, timestamp, timestamptz) the value is hashed as an
8-byte little-endian long, which is exactly Spark's own
`Murmur3_x86_32.hashLong(v, 0)`; bucket calls it through the built-in
`reflect` function. Spark's hash of byte strings mixes the tail bytes
differently from standard murmur3, so string, uuid, binary and decimal
buckets stay Arrow-batched pandas_udfs over numpy-vectorized murmur3.

Parity targets:
- semantics + result types: /root/reference/icelake/src/types/in_memory.rs:801-967
- kernels: /root/reference/icelake/src/types/transform/*.rs (bucket.rs,
  truncate.rs, temporal.rs, identity.rs, void.rs)
- NOTE: the reference's Day/Hour use float multiplication and break
  pre-1970 (temporal.rs:16-18); we use exact integer arithmetic instead.

Sessions should run with spark.sql.session.timeZone=UTC so temporal
transforms over `timestamptz` match Iceberg's UTC-based semantics.
"""

from __future__ import annotations

import re
from decimal import Decimal
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..murmur3 import (
    hash_bytes,
    hash_bytes_vec,
    hash_decimal,
    hash_long_vec,
    hash_str,
    int128_minimal_be_vec,
)
from .datatypes import INT, PrimitiveType

_BUCKET_RE = re.compile(r"^bucket\[(\d+)\]$")
_TRUNCATE_RE = re.compile(r"^truncate\[(\d+)\]$")


def parse_transform(s: str) -> tuple[str, int | None]:
    """'bucket[16]' → ('bucket', 16); 'year' → ('year', None).

    Mirrors the parser at in_memory.rs:912-967.
    """
    s = s.strip()
    m = _BUCKET_RE.match(s)
    if m:
        return "bucket", int(m.group(1))
    m = _TRUNCATE_RE.match(s)
    if m:
        return "truncate", int(m.group(1))
    if s in ("identity", "year", "month", "day", "hour", "void"):
        return s, None
    raise ValueError(f"unknown transform {s!r}")


def transform_result_type(transform: str, source_type: Any) -> PrimitiveType:
    """Result type rules per Transform::result_type (in_memory.rs:801-895)."""
    name, _ = parse_transform(transform)
    if name == "identity" or name == "void":
        return source_type
    if name == "bucket":
        return INT
    if name == "truncate":
        return source_type
    # year, month, day, hour all return int32 (the reference's
    # temporal.rs:73-119 and the spec's transform table). NOTE: Java
    # Iceberg historically surfaces `day` as a DATE logical type over
    # the same int32 days — the binary encodings are identical (LE int
    # days since epoch), so manifests interoperate either way; this repo
    # follows the reference and keeps plain int for all four.
    return INT


# --------------------------------------------------------- bucket kernels


_MURMUR3 = "org.apache.spark.unsafe.hash.Murmur3_x86_32"


def _bucket_int64(v: Column, n: int) -> Column:
    """bucket[N] of a long column in the JVM: Iceberg hashes the 8-byte
    little-endian long with murmur3_x86_32, seed 0, bit for bit what
    Spark's `Murmur3_x86_32.hashLong(v, 0)` computes. `reflect` returns
    the int as a string; a null input yields null (the CASE keeps the
    primitive-typed call from ever seeing one)."""
    h = F.call_function("reflect", F.lit(_MURMUR3), F.lit("hashLong"),
                        v, F.lit(0)).cast("int")
    return F.when(v.isNotNull(),
                  (h.bitwiseAND(F.lit(0x7FFFFFFF)) % F.lit(n)).cast("int"))


def _arrow_bytes_view(s: pd.Series, pa_type):
    """pandas Series → (null mask, starts, lengths, data buffer) via the
    Arrow array's native (offsets, data) layout — zero per-row Python.
    """
    import pyarrow as pa

    arr = pa.array(s, type=pa_type, from_pandas=True)
    if arr.offset != 0:  # sliced view: re-materialize at offset 0
        arr = pa.concat_arrays([arr])
    bufs = arr.buffers()
    nulls = arr.is_null().to_numpy(zero_copy_only=False)
    offsets = np.frombuffer(bufs[1], dtype=np.int32)[: len(arr) + 1] \
        .astype(np.int64)
    data = (np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2] is not None else np.zeros(0, dtype=np.uint8))
    return nulls, offsets[:-1], offsets[1:] - offsets[:-1], data


def _mod_series(h: np.ndarray, n: int, index, nulls: np.ndarray) -> pd.Series:
    out = ((h.astype(np.int64) & 0x7FFFFFFF) % n).astype("int32")
    res = pd.Series(out, index=index, dtype="Int32")
    res[nulls] = None
    return res


def _bucket_str_udf(n: int):
    @pandas_udf(T.IntegerType())
    def bucket(s: pd.Series) -> pd.Series:
        import pyarrow as pa

        nulls, starts, lengths, data = _arrow_bytes_view(s, pa.string())
        return _mod_series(hash_bytes_vec(data, starts, lengths), n,
                           s.index, nulls)

    return bucket


_HEX_LUT = np.full(256, 255, dtype=np.uint8)
for _i, _c in enumerate("0123456789abcdef"):
    _HEX_LUT[ord(_c)] = _i
for _i, _c in enumerate("0123456789ABCDEF"):
    _HEX_LUT[ord(_c)] = _i


def _bucket_uuid_udf(n: int):
    @pandas_udf(T.IntegerType())
    def bucket(s: pd.Series) -> pd.Series:
        # spec Appendix B: uuid hashes as its 16-byte big-endian form,
        # not the hyphenated string (bucket.rs uuid arm). Canonical
        # 36-char rows hex-decode via a LUT entirely in numpy; any
        # non-canonical form falls back to uuid.UUID per row.
        import pyarrow as pa

        nulls, starts, lengths, data = _arrow_bytes_view(s, pa.string())
        valid = ~nulls
        vi = np.nonzero(valid)[0]
        hx = None
        if len(vi) and (lengths[vi] == 36).all():
            rows = data[starts[vi][:, None] + np.arange(36)[None, :]]
            hyph = bool((rows[:, [8, 13, 18, 23]] == ord("-")).all())
            cand = _HEX_LUT[np.delete(rows, [8, 13, 18, 23], axis=1)]
            if hyph and not (cand == 255).any():
                hx = cand
        if hx is None and len(vi):
            import uuid as _uuid

            def one(v):
                if v is None:
                    return None
                return (hash_bytes(_uuid.UUID(str(v)).bytes) & 0x7FFFFFFF) % n

            return s.map(one).astype("Int32")
        res = pd.Series(np.zeros(len(s), dtype="int32"), index=s.index,
                        dtype="Int32")
        if len(vi):
            by = ((hx[:, 0::2] << 4) | hx[:, 1::2]).astype(np.uint8)
            h = hash_bytes_vec(by.reshape(-1),
                               np.arange(len(vi), dtype=np.int64) * 16,
                               np.full(len(vi), 16, dtype=np.int64))
            res.iloc[vi] = ((h.astype(np.int64) & 0x7FFFFFFF) % n) \
                .astype("int32")
        res[nulls] = None
        return res

    return bucket


def _bucket_bytes_udf(n: int):
    @pandas_udf(T.IntegerType())
    def bucket(s: pd.Series) -> pd.Series:
        import pyarrow as pa

        nulls, starts, lengths, data = _arrow_bytes_view(s, pa.binary())
        return _mod_series(hash_bytes_vec(data, starts, lengths), n,
                           s.index, nulls)

    return bucket


def _bucket_decimal_udf(n: int, scale: int):
    @pandas_udf(T.IntegerType())
    def bucket(s: pd.Series) -> pd.Series:
        import pyarrow as pa

        try:
            # decimal128's data buffer IS the unscaled int128 values at
            # the declared scale — minimal-BE encode + hash in numpy
            arr = pa.array(s, type=pa.decimal128(38, scale),
                           from_pandas=True)
            if arr.offset != 0:
                arr = pa.concat_arrays([arr])
            nulls = arr.is_null().to_numpy(zero_copy_only=False)
            data = np.frombuffer(arr.buffers()[1], dtype=np.uint8)[
                : len(arr) * 16].reshape(-1, 16)
            b, st, ln = int128_minimal_be_vec(data)
            return _mod_series(hash_bytes_vec(b, st, ln), n, s.index, nulls)
        except pa.ArrowInvalid:
            # value at a different runtime scale (needs rounding) —
            # match the scalar semantics per row
            def one(v):
                if v is None:
                    return None
                unscaled = int(Decimal(v).scaleb(scale).to_integral_value())
                return (hash_decimal(unscaled) & 0x7FFFFFFF) % n

            return s.map(one).astype("Int32")

    return bucket


def bucket_column(col: Column, source_type: PrimitiveType, n: int) -> Column:
    """bucket[N] of a column, per-type byte conventions (bucket.rs:28-66)."""
    name = source_type.name
    if name in ("int", "long", "time"):
        return _bucket_int64(col.cast("long"), n)
    if name == "date":
        # days since epoch hashed as long
        return _bucket_int64(
            F.datediff(col, F.lit("1970-01-01")).cast("long"), n)
    if name in ("timestamp", "timestamptz"):
        # microseconds since epoch hashed as long; cast ts -> long yields µs
        # only via unix_micros (tz) / a ntz-safe expression
        if name == "timestamptz":
            micros = F.unix_micros(col)
        else:
            micros = F.unix_micros(F.to_utc_timestamp(col, "UTC"))
        return _bucket_int64(micros, n)
    if name == "string":
        return _bucket_str_udf(n)(col.cast("string"))
    if name == "uuid":
        return _bucket_uuid_udf(n)(col.cast("string"))
    if name in ("binary", "fixed"):
        return _bucket_bytes_udf(n)(col)
    if name == "decimal":
        return _bucket_decimal_udf(n, source_type.scale)(col)
    raise ValueError(f"bucket over {source_type} unsupported")


# ---------------------------------------------------------- column factory


def transform_column(transform: str, col: Column, source_type: Any) -> Column:
    """Compile an Iceberg transform into a Spark Column expression."""
    name, param = parse_transform(transform)
    if name == "identity":
        return col
    if name == "void":
        return F.lit(None).cast(
            "int" if source_type is None else _spark_cast_str(source_type))
    if name == "bucket":
        return bucket_column(col, source_type, param)
    if name == "truncate":
        return truncate_column(col, source_type, param)
    # temporal transforms
    st = source_type
    is_ts = isinstance(st, PrimitiveType) and st.name in ("timestamp", "timestamptz")
    if name == "year":
        return (F.year(col) - F.lit(1970)).cast("int")
    if name == "month":
        return ((F.year(col) - F.lit(1970)) * F.lit(12) + F.month(col) - F.lit(1)).cast("int")
    if name == "day":
        return F.datediff(F.to_date(col) if is_ts else col, F.lit("1970-01-01")).cast("int")
    if name == "hour":
        # exact integer arithmetic: days-since-epoch * 24 + wall-clock hour
        # (avoids the reference's float bug for pre-1970, temporal.rs:16-18)
        return (F.datediff(F.to_date(col), F.lit("1970-01-01")) * F.lit(24)
                + F.hour(col)).cast("int")
    raise ValueError(f"unknown transform {transform!r}")


def truncate_column(col: Column, source_type: PrimitiveType, width: int) -> Column:
    """truncate[W]: ints floor-mod; decimal on unscaled; string first W chars.

    Mirrors truncate.rs:22-80: v - (((v % W) + W) % W)  ==  v - pmod(v, W).
    """
    name = source_type.name
    if name in ("int", "long"):
        return (col - F.pmod(col, F.lit(width))).cast(_spark_cast_str(source_type))
    if name == "decimal":
        w = Decimal(width).scaleb(-source_type.scale)
        return col - F.pmod(col, F.lit(w))
    if name in ("string", "binary"):
        return F.substring(col, 1, width)  # substring works on binary too
    raise ValueError(f"truncate over {source_type} unsupported")


def _spark_cast_str(t: PrimitiveType) -> str:
    m = {"int": "int", "long": "bigint", "float": "float", "double": "double",
         "date": "date", "time": "bigint", "timestamp": "timestamp_ntz",
         "timestamptz": "timestamp", "string": "string", "uuid": "string",
         "binary": "binary", "boolean": "boolean"}
    if t.name == "decimal":
        return f"decimal({t.precision},{t.scale})"
    return m.get(t.name, "string")


# ----------------------------------------------------- python-side apply


def apply_transform_py(transform: str, value: Any, source_type: PrimitiveType) -> Any:
    """Driver-side scalar transform (used for partition-value pruning and
    tests; the distributed path uses transform_column)."""
    import datetime as dt

    name, param = parse_transform(transform)
    if value is None:
        return None
    if name == "identity":
        return value
    if name == "void":
        return None
    if name == "bucket":
        tname = source_type.name
        if tname in ("int", "long", "time"):
            h = hash_long_vec(np.array([int(value)], dtype=np.int64))[0]
        elif tname == "date":
            days = (value - dt.date(1970, 1, 1)).days if isinstance(value, dt.date) else int(value)
            h = hash_long_vec(np.array([days], dtype=np.int64))[0]
        elif tname in ("timestamp", "timestamptz"):
            if isinstance(value, dt.datetime):
                # aware: TRUE epoch micros — anchoring the epoch at the
                # value's own offset would shift the hash input by that
                # offset and bucket-prune the wrong files. Integer
                # timedelta division is exact; float seconds round off
                # microseconds of instants far from 1970
                utc = None if value.tzinfo is None else dt.timezone.utc
                epoch = dt.datetime(1970, 1, 1, tzinfo=utc)
                value = (value - epoch) // dt.timedelta(microseconds=1)
            h = hash_long_vec(np.array([int(value)], dtype=np.int64))[0]
        elif tname == "string":
            h = hash_str(str(value))
        elif tname == "uuid":
            import uuid as _uuid

            # spec Appendix B: 16-byte big-endian form, not the string
            h = hash_bytes(_uuid.UUID(str(value)).bytes)
        elif tname in ("binary", "fixed"):
            h = hash_bytes(bytes(value))
        elif tname == "decimal":
            h = hash_decimal(int(Decimal(value).scaleb(source_type.scale).to_integral_value()))
        else:
            raise ValueError(f"bucket over {source_type}")
        return (int(h) & 0x7FFFFFFF) % param
    if name == "truncate":
        if source_type.name in ("int", "long"):
            v = int(value)
            return v - (((v % param) + param) % param)
        if source_type.name == "decimal":
            unscaled = int(Decimal(value).scaleb(source_type.scale).to_integral_value())
            trunc = unscaled - (((unscaled % param) + param) % param)
            return Decimal(trunc).scaleb(-source_type.scale)
        if source_type.name == "string":
            return str(value)[:param]
        if source_type.name in ("binary", "fixed"):
            # spec: truncate over binary keeps the first W bytes — the
            # Catalyst path (truncate_column) already supported it, but
            # the Python writer's per-row twin raised, failing every
            # write to a truncate[W]-over-binary partitioned table
            # (review r11)
            return bytes(value)[:param]
        raise ValueError(f"truncate over {source_type}")
    # temporal: the write path derives year/month/day/hour from the UTC
    # instant, so an AWARE filter value must be converted to UTC first
    # (its local wall-clock fields can fall on a different day entirely)
    if isinstance(value, dt.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d, y, mo, h = value.date(), value.year, value.month, value.hour
    elif isinstance(value, dt.date):
        d, y, mo, h = value, value.year, value.month, 0
    else:
        raise ValueError(f"temporal transform needs date/datetime, got {value!r}")
    if name == "year":
        return y - 1970
    if name == "month":
        return (y - 1970) * 12 + mo - 1
    days = (d - dt.date(1970, 1, 1)).days
    if name == "day":
        return days
    if name == "hour":
        return days * 24 + h
    raise ValueError(f"unknown transform {transform!r}")
