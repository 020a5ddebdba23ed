"""Iceberg type system: parse/serialize JSON type strings, convert to
Spark SQL types, and encode/decode single-value binary bounds.

Parity targets:
- type model: /root/reference/icelake/src/types/in_memory.rs:169-666
- JSON serde: /root/reference/icelake/src/types/on_disk/types.rs:1-995
- single-value binary (bounds): Iceberg spec Appendix D, referenced at
  /root/reference/icelake/src/types/in_memory.rs:1794-1801
- Spark mapping: SURVEY.md §1.2
"""

from __future__ import annotations

import re
import struct
import uuid as _uuid
from dataclasses import dataclass, field
from datetime import date, datetime, time, timedelta, timezone
from decimal import Decimal
from typing import Any

from pyspark.sql import types as T

# ------------------------------------------------------------------ types


@dataclass(frozen=True)
class PrimitiveType:
    name: str  # boolean int long float double date time timestamp timestamptz string uuid binary
    precision: int = 0  # decimal only
    scale: int = 0  # decimal only
    length: int = 0  # fixed only

    def __str__(self) -> str:
        if self.name == "decimal":
            return f"decimal({self.precision},{self.scale})"
        if self.name == "fixed":
            return f"fixed[{self.length}]"
        return self.name


@dataclass(frozen=True)
class NestedField:
    field_id: int
    name: str
    field_type: Any  # PrimitiveType | StructType | ListType | MapType
    required: bool = False
    doc: str | None = None
    initial_default: Any = None
    write_default: Any = None


@dataclass(frozen=True)
class StructType:
    fields: tuple[NestedField, ...]

    def field(self, name: str) -> NestedField | None:
        for f in self.fields:
            if f.name == name:
                return f
        return None


@dataclass(frozen=True)
class ListType:
    element_id: int
    element_type: Any
    element_required: bool = False


@dataclass(frozen=True)
class MapType:
    key_id: int
    key_type: Any
    value_id: int
    value_type: Any
    value_required: bool = False


BOOLEAN = PrimitiveType("boolean")
INT = PrimitiveType("int")
LONG = PrimitiveType("long")
FLOAT = PrimitiveType("float")
DOUBLE = PrimitiveType("double")
DATE = PrimitiveType("date")
TIME = PrimitiveType("time")
TIMESTAMP = PrimitiveType("timestamp")
TIMESTAMPTZ = PrimitiveType("timestamptz")
STRING = PrimitiveType("string")
UUID = PrimitiveType("uuid")
BINARY = PrimitiveType("binary")


def decimal_type(precision: int, scale: int) -> PrimitiveType:
    if precision > 38:
        raise ValueError(f"decimal precision {precision} > 38")
    return PrimitiveType("decimal", precision=precision, scale=scale)


def fixed_type(length: int) -> PrimitiveType:
    return PrimitiveType("fixed", length=length)


_DECIMAL_RE = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")
_FIXED_RE = re.compile(r"^fixed\[(\d+)\]$")


def type_from_json(j: Any) -> Any:
    """Parse an Iceberg JSON type (string or object)."""
    if isinstance(j, str):
        m = _DECIMAL_RE.match(j)
        if m:
            return decimal_type(int(m.group(1)), int(m.group(2)))
        m = _FIXED_RE.match(j)
        if m:
            return fixed_type(int(m.group(1)))
        if j in {p.name for p in (BOOLEAN, INT, LONG, FLOAT, DOUBLE, DATE, TIME,
                                  TIMESTAMP, TIMESTAMPTZ, STRING, UUID, BINARY)}:
            return PrimitiveType(j)
        raise ValueError(f"unknown primitive type {j!r}")
    t = j["type"]
    if t == "struct":
        return StructType(tuple(
            NestedField(
                field_id=f["id"], name=f["name"], field_type=type_from_json(f["type"]),
                required=f.get("required", False), doc=f.get("doc"),
                initial_default=f.get("initial-default"), write_default=f.get("write-default"),
            )
            for f in j["fields"]
        ))
    if t == "list":
        return ListType(j["element-id"], type_from_json(j["element"]),
                        j.get("element-required", False))
    if t == "map":
        return MapType(j["key-id"], type_from_json(j["key"]),
                       j["value-id"], type_from_json(j["value"]),
                       j.get("value-required", False))
    raise ValueError(f"unknown type {j!r}")


def type_to_json(t: Any) -> Any:
    if isinstance(t, PrimitiveType):
        return str(t)
    if isinstance(t, StructType):
        fields = []
        for f in t.fields:
            fj: dict[str, Any] = {"id": f.field_id, "name": f.name,
                                  "required": f.required, "type": type_to_json(f.field_type)}
            if f.doc is not None:
                fj["doc"] = f.doc
            if f.initial_default is not None:
                fj["initial-default"] = f.initial_default
            if f.write_default is not None:
                fj["write-default"] = f.write_default
            fields.append(fj)
        return {"type": "struct", "fields": fields}
    if isinstance(t, ListType):
        return {"type": "list", "element-id": t.element_id,
                "element": type_to_json(t.element_type), "element-required": t.element_required}
    if isinstance(t, MapType):
        return {"type": "map", "key-id": t.key_id, "key": type_to_json(t.key_type),
                "value-id": t.value_id, "value": type_to_json(t.value_type),
                "value-required": t.value_required}
    raise ValueError(f"cannot serialize {t!r}")


# ------------------------------------------------------- Spark conversion

_PRIM_TO_SPARK = {
    "boolean": T.BooleanType(), "int": T.IntegerType(), "long": T.LongType(),
    "float": T.FloatType(), "double": T.DoubleType(), "date": T.DateType(),
    "time": T.LongType(),  # no native time type: long µs + convention (SURVEY §7)
    "timestamp": T.TimestampNTZType(), "timestamptz": T.TimestampType(),
    "string": T.StringType(), "uuid": T.StringType(), "binary": T.BinaryType(),
}


def to_spark_type(t: Any) -> T.DataType:
    if isinstance(t, PrimitiveType):
        if t.name == "decimal":
            return T.DecimalType(t.precision, t.scale)
        if t.name == "fixed":
            return T.BinaryType()
        return _PRIM_TO_SPARK[t.name]
    if isinstance(t, StructType):
        # NOTE: the metadata key is deliberately iceberg.field_id, NOT
        # Spark's parquet.field.id — a parquet.field.id-carrying READ
        # schema makes Spark's parquet reader demand ids from every
        # file and fail on id-less ones (legacy files, add_files
        # imports). Ids are stamped only at the WRITE boundary
        # (write.py) and consumed per-file by the DSv2 reader.
        return T.StructType([
            T.StructField(f.name, to_spark_type(f.field_type), not f.required,
                          metadata={"iceberg.field_id": f.field_id})
            for f in t.fields
        ])
    if isinstance(t, ListType):
        return T.ArrayType(to_spark_type(t.element_type), not t.element_required)
    if isinstance(t, MapType):
        return T.MapType(to_spark_type(t.key_type), to_spark_type(t.value_type),
                         not t.value_required)
    raise ValueError(f"cannot convert {t!r}")


def from_spark_type(st: T.DataType, next_id) -> Any:
    """Spark type → Iceberg type; `next_id` is a callable allocating field ids."""
    if isinstance(st, T.StructType):
        fields = []
        for f in st.fields:
            fid = next_id()
            fields.append(NestedField(fid, f.name, from_spark_type(f.dataType, next_id),
                                      required=not f.nullable))
        return StructType(tuple(fields))
    if isinstance(st, T.ArrayType):
        eid = next_id()
        return ListType(eid, from_spark_type(st.elementType, next_id), not st.containsNull)
    if isinstance(st, T.MapType):
        kid, vid = next_id(), next_id()
        return MapType(kid, from_spark_type(st.keyType, next_id),
                       vid, from_spark_type(st.valueType, next_id), not st.valueContainsNull)
    if isinstance(st, T.DecimalType):
        return decimal_type(st.precision, st.scale)
    m = {T.BooleanType: BOOLEAN, T.IntegerType: INT, T.ShortType: INT, T.ByteType: INT,
         T.LongType: LONG, T.FloatType: FLOAT, T.DoubleType: DOUBLE, T.DateType: DATE,
         T.TimestampNTZType: TIMESTAMP, T.TimestampType: TIMESTAMPTZ,
         T.StringType: STRING, T.BinaryType: BINARY}
    for cls, ice in m.items():
        if isinstance(st, cls):
            return ice
    raise ValueError(f"cannot convert spark type {st!r}")


# ------------------------------------------------- Arrow conversion (ids)

_FIELD_ID_KEY = b"PARQUET:field_id"


def _to_arrow_type_ids(t: Any):
    """Iceberg type → pyarrow type with PARQUET:field_id metadata on
    EVERY nested member (struct fields, list element, map key/value).

    This is the write-side id propagation the reference does in
    to_arrow.rs:15-45 — Spark's alias metadata can only stamp top-level
    ids, so the arrow writer lane (write.py:write_parquet_arrow) uses
    this schema instead. Physical types follow the Iceberg parquet
    spec: uuid = fixed[16] (not string), time = annotated time64[µs]
    (not bare int64), fixed[L] = fixed-size binary. Spark's mapInArrow
    hands the worker string uuids and int64 µs times; the writer lane's
    batch-align step converts those, everything else is a plain cast.
    """
    import pyarrow as pa

    if isinstance(t, PrimitiveType):
        n = t.name
        if n == "decimal":
            return pa.decimal128(t.precision, t.scale)
        if n == "fixed":
            return pa.binary(t.length)
        return {
            "boolean": pa.bool_(), "int": pa.int32(), "long": pa.int64(),
            "float": pa.float32(), "double": pa.float64(),
            "date": pa.date32(), "time": pa.time64("us"),
            "timestamp": pa.timestamp("us"),
            "timestamptz": pa.timestamp("us", tz="UTC"),
            "string": pa.string(), "uuid": pa.binary(16),
            "binary": pa.binary(),
        }[n]
    if isinstance(t, StructType):
        return pa.struct([_to_arrow_field_ids(f) for f in t.fields])
    if isinstance(t, ListType):
        elem = pa.field("element", _to_arrow_type_ids(t.element_type),
                        nullable=not t.element_required,
                        metadata={_FIELD_ID_KEY: str(t.element_id).encode()})
        return pa.list_(elem)
    if isinstance(t, MapType):
        key = pa.field("key", _to_arrow_type_ids(t.key_type), nullable=False,
                       metadata={_FIELD_ID_KEY: str(t.key_id).encode()})
        val = pa.field("value", _to_arrow_type_ids(t.value_type),
                       nullable=not t.value_required,
                       metadata={_FIELD_ID_KEY: str(t.value_id).encode()})
        return pa.map_(key, val)
    raise ValueError(f"cannot convert {t!r} to arrow")


def _to_arrow_field_ids(f: NestedField):
    import pyarrow as pa

    return pa.field(f.name, _to_arrow_type_ids(f.field_type),
                    nullable=not f.required,
                    metadata={_FIELD_ID_KEY: str(f.field_id).encode()})


def schema_to_arrow_with_ids(schema: "Schema"):
    """pyarrow.Schema for `schema` carrying PARQUET:field_id metadata at
    every nesting level — consumed by the arrow parquet writer lane
    (write.py) so externally-id-addressed readers (Java Iceberg,
    pyiceberg, our own DSv2 per-file binder) can rebind nested members
    after renames."""
    import pyarrow as pa

    return pa.schema([_to_arrow_field_ids(f) for f in schema.fields])


# --------------------------------------------- single-value binary bounds

_EPOCH_DATE = date(1970, 1, 1)
_EPOCH_DT = datetime(1970, 1, 1)
_EPOCH_DT_TZ = datetime(1970, 1, 1, tzinfo=timezone.utc)


def min_twos_complement(unscaled: int) -> bytes:
    """Minimum-length big-endian two's-complement encoding — Java
    BigInteger.toByteArray(). The ONE definition shared by bound
    encoding (here), bucket-transform decimal hashing (murmur3), and
    Avro decimal encoding (avro_data): the three sites must agree or
    bucket pruning / external readers silently diverge (review r10
    deduplicated three hand-rolled copies)."""
    nbytes = (unscaled + (unscaled < 0)).bit_length() // 8 + 1
    return unscaled.to_bytes(nbytes, "big", signed=True)


def encode_bound(t: PrimitiveType, v: Any) -> bytes:
    """Encode one value per Iceberg spec Appendix D ("single-value binary")."""
    n = t.name
    if n == "boolean":
        return b"\x01" if v else b"\x00"
    if n == "int":
        return struct.pack("<i", int(v))
    if n == "long":
        return struct.pack("<q", int(v))
    if n == "float":
        return struct.pack("<f", float(v))
    if n == "double":
        return struct.pack("<d", float(v))
    if n == "date":
        days = (v - _EPOCH_DATE).days if isinstance(v, date) else int(v)
        return struct.pack("<i", days)
    if n == "time":
        if isinstance(v, time):
            v = (v.hour * 3600 + v.minute * 60 + v.second) * 1_000_000 + v.microsecond
        return struct.pack("<q", int(v))
    if n in ("timestamp", "timestamptz"):
        if isinstance(v, datetime):
            epoch = _EPOCH_DT_TZ if v.tzinfo else _EPOCH_DT
            v = round((v - epoch) / timedelta(microseconds=1))
        return struct.pack("<q", int(v))
    if n == "string":
        return v.encode("utf-8") if isinstance(v, str) else bytes(v)
    if n == "uuid":
        return _uuid.UUID(v).bytes if isinstance(v, str) else bytes(v)
    if n in ("binary", "fixed"):
        return bytes(v)
    if n == "decimal":
        # MINIMUM two's-complement length (Appendix D): the previous
        # (bit_length+8)//8 over-padded exact negative powers of two
        # (-128 took 2 bytes, spec-minimal is 1) — decodes the same but
        # byte-compares different from Java's encoding (review r10)
        unscaled = int(Decimal(v).scaleb(t.scale).to_integral_value())
        return min_twos_complement(unscaled)
    raise ValueError(f"cannot encode bound for {t}")


def decode_bound(t: PrimitiveType, b: bytes) -> Any:
    n = t.name
    if n == "boolean":
        return b != b"\x00"
    if n == "int":
        return struct.unpack("<i", b)[0]
    if n == "long":
        return struct.unpack("<q", b)[0]
    if n == "float":
        return struct.unpack("<f", b)[0]
    if n == "double":
        return struct.unpack("<d", b)[0]
    if n == "date":
        return _EPOCH_DATE + timedelta(days=struct.unpack("<i", b)[0])
    if n == "time":
        return struct.unpack("<q", b)[0]
    if n == "timestamp":
        return _EPOCH_DT + timedelta(microseconds=struct.unpack("<q", b)[0])
    if n == "timestamptz":
        return _EPOCH_DT_TZ + timedelta(microseconds=struct.unpack("<q", b)[0])
    if n == "string":
        return b.decode("utf-8")
    if n == "uuid":
        return str(_uuid.UUID(bytes=bytes(b)))
    if n in ("binary", "fixed"):
        return bytes(b)
    if n == "decimal":
        unscaled = int.from_bytes(b, "big", signed=True)
        return Decimal(unscaled).scaleb(-t.scale)
    raise ValueError(f"cannot decode bound for {t}")


def parse_value(t: PrimitiveType, s: str) -> Any:
    """Text as the python value of type `t` that decode_bound returns
    (ISO dates and timestamps; a naive timestamptz reads as UTC). Other
    types return the text."""
    n = t.name
    if n in ("int", "long"):
        return int(s)
    if n in ("float", "double"):
        return struct.unpack("<f", struct.pack("<f", float(s)))[0] \
            if n == "float" else float(s)
    if n == "decimal":
        return Decimal(s)
    if n == "boolean":
        return s.lower() == "true"
    if n == "date":
        return date.fromisoformat(s)
    if n in ("timestamp", "timestamptz"):
        v = datetime.fromisoformat(s)
        return v.replace(tzinfo=timezone.utc) \
            if n == "timestamptz" and v.tzinfo is None else v
    return s


# ------------------------------------------------------------------ schema


@dataclass(frozen=True)
class Schema:
    """Iceberg schema: a struct with a schema id and identifier fields.

    Field-id lookups mirror Struct::id_lookup
    (/root/reference/icelake/src/types/in_memory.rs:341-429).
    """

    struct: StructType
    schema_id: int = 0
    identifier_field_ids: tuple[int, ...] = field(default_factory=tuple)

    @property
    def fields(self) -> tuple[NestedField, ...]:
        return self.struct.fields

    def field_by_id(self, field_id: int) -> NestedField | None:
        return self._id_index().get(field_id)

    def name_by_id(self, field_id: int) -> str | None:
        f = self._id_index().get(field_id)
        return f.name if f else None

    def field_by_name(self, name: str) -> NestedField | None:
        return self.struct.field(name)

    def _id_index(self) -> dict[int, NestedField]:
        # memoized: the schema is frozen, and planning/stat decoding call
        # field_by_id per bound field per data file — rebuilding the
        # index each time made a 10k-file plan O(files × fields²)
        cached = getattr(self, "_id_index_cache", None)
        if cached is not None:
            return cached
        idx: dict[int, NestedField] = {}

        def walk(t: Any) -> None:
            if isinstance(t, StructType):
                for f in t.fields:
                    idx[f.field_id] = f
                    walk(f.field_type)
            elif isinstance(t, ListType):
                walk(t.element_type)
            elif isinstance(t, MapType):
                walk(t.key_type)
                walk(t.value_type)

        walk(self.struct)
        object.__setattr__(self, "_id_index_cache", idx)
        return idx

    def highest_field_id(self) -> int:
        ids = [0]

        def walk(t: Any) -> None:
            if isinstance(t, StructType):
                for f in t.fields:
                    ids.append(f.field_id)
                    walk(f.field_type)
            elif isinstance(t, ListType):
                ids.append(t.element_id)
                walk(t.element_type)
            elif isinstance(t, MapType):
                ids.extend((t.key_id, t.value_id))
                walk(t.key_type)
                walk(t.value_type)

        walk(self.struct)
        return max(ids)

    def to_spark(self) -> T.StructType:
        return to_spark_type(self.struct)

    def with_identifier_fields(self, *names: str) -> "Schema":
        """Return a copy with identifier-field-ids set from column names
        (the row-identity key used by CDC upsert/merge when no explicit
        key_cols are passed)."""
        ids = []
        for n in names:
            f = self.field_by_name(n)
            if f is None:
                raise KeyError(f"column {n!r} not found")
            ids.append(f.field_id)
        return Schema(self.struct, self.schema_id, tuple(ids))

    @classmethod
    def from_spark(cls, st: T.StructType, schema_id: int = 0,
                   start_id: int = 1) -> "Schema":
        counter = iter(range(start_id, 1 << 31))
        # ids assigned depth-first in field order (identical to DDL order
        # for flat schemas; stable either way since we always round-trip
        # through our own metadata). start_id > 1 is the REPLACE TABLE
        # path: the replacement schema's ids must not collide with any
        # id ever used by this table, so old data files (readable via
        # time travel under their snapshot's schema) can never bind to
        # a new column by accident.
        struct = from_spark_type(st, lambda: next(counter))
        return cls(struct=struct, schema_id=schema_id)

    def to_json_dict(self) -> dict:
        j = type_to_json(self.struct)
        j["schema-id"] = self.schema_id
        if self.identifier_field_ids:
            j["identifier-field-ids"] = list(self.identifier_field_ids)
        return j

    @classmethod
    def from_json_dict(cls, j: dict) -> "Schema":
        return cls(
            struct=type_from_json({"type": "struct", "fields": j["fields"]}),
            schema_id=j.get("schema-id", 0),
            identifier_field_ids=tuple(j.get("identifier-field-ids", ())),
        )
