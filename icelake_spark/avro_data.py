"""Avro DATA-file support via the pure-Python avro_io codec.

The reference's `DataFileFormat` enumerates Avro alongside Parquet/ORC
(/root/reference/icelake/src/types/in_memory.rs:2057-2091). Spark's
avro data source is an external module that is not on this
environment's classpath, so table scans and writes fall back to this
module: schema-driven encode/decode with `avro_io`, distributed with
`mapInPandas` — one task per file on read, one file per partition on
write, both shared-filesystem patterns identical to how Spark tasks
write parquet.

Field-id annotations ride on the Avro schema (`field-id` on record
fields, `element-id` on arrays), matching the reference's
to_avro.rs:21-73 so files resolve by id in other Iceberg readers.
KNOWN ENCODING DIVERGENCE: decimals are written as bytes+logicalType
and uuids as string+logicalType (the Iceberg Avro spec prefers
fixed-width for both); self-roundtrip and field resolution are exact,
but a strict spec reader may reject those two physical encodings.

Scale notes: writes buffer at most `max_records_per_file` records
(default 1M) per partition value before flushing a container file;
reads are
one file per task, so parallelism = file count, same as any
non-splittable container format (Avro blocks are splittable in
principle — not needed while files are written to
write.target-file-size-bytes).
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import uuid as _uuidlib
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from . import avro_io
from .types.datatypes import ListType, PrimitiveType, Schema, StructType

_PRIMITIVE_AVRO = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
    "date": {"type": "int", "logicalType": "date"},
    "time": {"type": "long", "logicalType": "time-micros"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamptz": {"type": "long", "logicalType": "timestamp-micros",
                    "adjust-to-utc": True},
    "uuid": {"type": "string", "logicalType": "uuid"},
}


def _avro_type(t: Any, name_hint: str = "") -> Any:
    if isinstance(t, PrimitiveType):
        if t.name == "decimal":
            return {"type": "bytes", "logicalType": "decimal",
                    "precision": t.precision, "scale": t.scale}
        if t.name == "fixed":
            # named types must be UNIQUE within a schema: two fixed[16]
            # columns with the same name are a duplicate definition that
            # spec-compliant parsers reject — suffix with the field name
            suffix = f"_{name_hint}" if name_hint else ""
            return {"type": "fixed", "name": f"fixed_{t.length}{suffix}",
                    "size": t.length}
        try:
            return _PRIMITIVE_AVRO[t.name]
        except KeyError:
            raise NotImplementedError(f"avro data files: type {t}")
    if isinstance(t, ListType):
        # element-id annotation: Iceberg readers resolve list elements
        # by id, not position — an un-annotated array column is
        # unresolvable to a spec-compliant reader.
        # OPTIONAL elements (element_required=False — Spark's
        # containsNull default) need a ["null", item] union or a legal
        # NULL element crashes the write (code-review r9)
        items = _avro_type(t.element_type, name_hint)
        if not t.element_required:
            items = ["null", items]
        return {"type": "array",
                "items": items,
                "element-id": t.element_id}
    raise NotImplementedError(f"avro data files: nested type {t!r}")


_AVRO_NAME_RE = __import__("re").compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def table_avro_schema(schema: Schema, name: str = "table") -> dict:
    """Iceberg table schema -> field-id-annotated Avro record schema.

    Column names must be legal Avro names ([A-Za-z_][A-Za-z0-9_]*):
    the in-repo reader never validates, so a column like `sum(x)` or
    `col-1` would self-roundtrip while producing a file every strict
    external parser (Java Avro, fastavro, spark-avro) rejects at
    schema parse — fail LOUDLY at write time instead of shipping an
    unreadable file (review r11)."""
    fields = []
    for f in schema.fields:
        if not _AVRO_NAME_RE.match(f.name):
            raise ValueError(
                f"avro data files: column name {f.name!r} is not a "
                f"legal Avro name ([A-Za-z_][A-Za-z0-9_]*) — rename "
                f"the column or use parquet/orc for this table")
        at = _avro_type(f.field_type, name_hint=f.name)
        fields.append({
            "name": f.name,
            "type": at if f.required else ["null", at],
            "field-id": f.field_id,
            **({} if f.required else {"default": None}),
        })
    return {"type": "record", "name": name, "fields": fields}


# ----------------------------------------------------- value conversion


def _to_avro_value(v: Any, t: PrimitiveType, tz: dt.tzinfo | None = None) -> Any:
    if v is None:
        return None
    n = t.name
    if n == "date":
        if isinstance(v, dt.date):
            return (v - dt.date(1970, 1, 1)).days
        return int(v)
    if n in ("timestamp", "timestamptz"):
        if isinstance(v, dt.datetime):
            # exact INTEGER micros via timedelta floor-division — the
            # encode_bound idiom. The old float path
            # (total_seconds()/timestamp() * 1e6) drifts +-1us beyond
            # ~year 2100, silently disagreeing with bounds computed by
            # the exact arithmetic (review r11)
            us = dt.timedelta(microseconds=1)
            if v.tzinfo is not None:
                # aware: true epoch micros (anchoring the epoch at the
                # value's OWN offset would shift the instant by it)
                epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
                return (v - epoch) // us
            if n == "timestamptz" and tz is not None:
                # mapInPandas hands timestamptz values over as SESSION-
                # timezone-naive stamps; the iceberg spec stores UTC
                # micros, so localize to the session zone first (treating
                # naive as UTC silently shifts every instant when
                # spark.sql.session.timeZone != UTC)
                epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
                return (v.replace(tzinfo=tz) - epoch) // us
            return (v - dt.datetime(1970, 1, 1)) // us
        return int(v)
    if n == "decimal":
        from .types.datatypes import min_twos_complement

        unscaled = int(decimal.Decimal(v).scaleb(t.scale).to_integral_value())
        return min_twos_complement(unscaled)
    if n == "binary":
        return bytes(v)
    if n in ("int", "long", "time"):
        return int(v)
    if n in ("float", "double"):
        return float(v)
    if n == "uuid":
        return str(v)
    return v


def _from_avro_value(v: Any, t: PrimitiveType, tz: dt.tzinfo | None = None) -> Any:
    if v is None:
        return None
    n = t.name
    if n == "date":
        return dt.date(1970, 1, 1) + dt.timedelta(days=v)
    if n == "timestamptz" and tz is not None:
        # stored UTC micros -> session-timezone-naive (the inverse of
        # the write-side localization; mapInPandas expects naive stamps
        # in the session zone)
        utc = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
            microseconds=v)
        return utc.astimezone(tz).replace(tzinfo=None)
    if n in ("timestamp", "timestamptz"):
        return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=v)
    if n == "decimal":
        unscaled = int.from_bytes(v, "big", signed=True)
        return decimal.Decimal(unscaled).scaleb(-t.scale)
    if n == "uuid":
        return str(_uuidlib.UUID(str(v)))
    return v


def _session_tz(spark: SparkSession) -> dt.tzinfo:
    """The Spark session timezone as a tzinfo (mapInPandas timestamps
    are naive in this zone). Spark also accepts offset-style zone ids
    ('GMT+08:00', 'UTC+8', '+08:00') that ZoneInfo rejects — parse
    those as fixed offsets instead of silently assuming UTC, which
    would shift every stored timestamptz instant by the offset."""
    import re as _re
    import warnings
    from zoneinfo import ZoneInfo

    name = spark.conf.get("spark.sql.session.timeZone")
    try:
        return ZoneInfo(name)
    except Exception:
        pass
    m = _re.fullmatch(
        r"(?:GMT|UTC)?\s*([+-])(\d{1,2})(?::?(\d{2}))?", name.strip())
    if m:
        sign = 1 if m.group(1) == "+" else -1
        delta = dt.timedelta(hours=int(m.group(2)),
                             minutes=int(m.group(3) or 0))
        return dt.timezone(sign * delta)
    warnings.warn(f"unrecognized session timezone {name!r}; treating "
                  f"timestamptz values as UTC in the Avro data path")
    return dt.timezone.utc


def _converters(schema: Schema, tz: dt.tzinfo | None = None):
    prims = []
    for f in schema.fields:
        t = f.field_type
        if isinstance(t, ListType):
            el = t.element_type
            prims.append((f.name,
                          lambda v, el=el: None if v is None else
                          [None if x is None else _to_avro_value(x, el, tz)
                           for x in v],
                          lambda v, el=el: None if v is None else
                          [_from_avro_value(x, el, tz) for x in v]))
        else:
            prims.append((f.name,
                          lambda v, t=t: _to_avro_value(v, t, tz),
                          lambda v, t=t: _from_avro_value(v, t, tz)))
    return prims


# --------------------------------------------------------------- write


def write_avro_data(df: DataFrame, stage: str, schema: Schema,
                    partition_cols: list[str] | None = None,
                    max_records_per_file: int | None = None) -> list[str]:
    """Write df as Avro container files under `stage`, one file per task
    per partition value, and return the COMMITTED file paths.

    Task-commit protocol: unlike Spark's built-in sinks (which stage
    through a FileOutputCommitter), executor tasks here write straight
    into `stage` — so a failed-then-retried or speculative task can
    leave partial/duplicate part files on disk. Committing is therefore
    done by PATH LIST, not by directory walk: each task yields the paths
    it finished (write_avro itself is tmp+rename, so a listed path is
    always a complete file), and `collect()` keeps exactly one winning
    attempt per partition — losers' orphan files stay in the temp stage
    dir but are never registered as table data.

    `partition_cols` are the layout columns that choose each row's hive
    DIRECTORY (write._split_by_layout); the partition SOURCE columns
    are written into the files as usual (read_avro_data never parses
    hive dirs); `max_records_per_file` rolls output files like Spark's
    maxRecordsPerFile."""
    import pyarrow as pa

    from .fileio import io_join, resolve_io
    from .write import _split_by_layout

    avro_schema = table_avro_schema(schema)
    # Arrow hands the task NULLs as None (no pandas NaN/NaT to undo)
    # and timestamptz values as aware instants (no session zone needed)
    conv = _converters(schema)
    pcols = partition_cols or []
    # default roll caps the Python-side record buffer even when the
    # caller sets no file size: rows buffer as dicts (several times
    # their Arrow footprint), so an unbounded bucket OOMs the worker
    roll = max_records_per_file or 1_000_000
    # resolved HERE (planning process) and closed over: executor python
    # workers never see register_io factories, so custom-scheme stores
    # write through this pickled instance — the write twin of the DSv2
    # readers' shipped self.io
    fio = resolve_io(stage)
    fio.makedirs(stage)

    def run(batches):
        buckets: dict[str, list[dict]] = {}
        written: list[str] = []

        def flush(subdir: str) -> None:
            records = buckets.pop(subdir, [])
            if not records:
                return
            d = io_join(stage, subdir) if subdir else stage
            fio.makedirs(d)
            path = d + f"/part-{_uuidlib.uuid4().hex}.avro"
            avro_io.write_avro(path, avro_schema, records, io=fio)
            written.append(path)

        for batch in batches:
            for subdir, sub in _split_by_layout(pa.Table.from_batches([batch]),
                                                pcols):
                for row in sub.to_pylist():
                    records = buckets.setdefault(subdir, [])
                    records.append({name: enc(row[name])
                                    for name, enc, _dec in conv})
                    if len(records) >= roll:
                        flush(subdir)
        for subdir in list(buckets):
            flush(subdir)
        yield pa.RecordBatch.from_arrays(
            [pa.array(written, type=pa.string())], names=["path"])

    return [r.path for r in
            df.mapInArrow(run, schema="path string").collect()]


# ---------------------------------------------------------------- read


def read_avro_data(spark: SparkSession, spark_schema,
                   paths: list[str]) -> DataFrame:
    """Distributed read of Avro container files: one task per file,
    decoded with avro_io and yielded as Arrow batches. Emits a `__file`
    column for the MoR position plumbing (always-null positions — Avro
    rows have no stable row_index, so deletes against them go
    copy-on-write, same as ORC).

    `paths` are the RAW manifest-recorded paths (NOT
    to_spark_paths-translated): each file's bytes are read through a
    DRIVER-resolved FileIO shipped in the closure — executor workers
    can't see register_io factories and pyarrow rejects JVM-scheme
    URIs like s3a:// (the r9 write/count-lane fix, applied to the read
    twin; review r11). `__file` carries the normalized raw path — the
    old os.path.abspath mangled URI forms into
    '/cwd/file:/x/...'-shaped nonsense."""
    import pandas as pd
    from pyspark.sql import types as T

    from .fileio import norm_path, resolve_io

    ios = {p: resolve_io(p) for p in paths}       # driver-side
    norms = {p: norm_path(p) for p in paths}
    conv = _converters(Schema.from_spark(spark_schema), _session_tz(spark))
    names = [f.name for f in spark_schema.fields]
    out_schema = T.StructType(
        list(spark_schema.fields) + [T.StructField("__file", T.StringType())])

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for p in pdf["p"]:
                data = ios[p].open_input(p).read()
                _schema, records = avro_io.read_avro(p, data=data)
                cols: dict[str, list] = {n: [] for n in names}
                for rec in records:
                    for name, _enc, dec in conv:
                        cols[name].append(dec(rec.get(name)))
                cols["__file"] = [norms[p]] * len(records)
                yield pd.DataFrame(cols, columns=names + ["__file"])

    pdf = spark.createDataFrame([(p,) for p in paths], "p string") \
        .repartition(max(1, len(paths)))
    return pdf.mapInPandas(run, schema=out_schema)
