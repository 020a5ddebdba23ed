"""The writer tree: every table file (data, position delete, equality
delete, stream sink) is written, inventoried and described here.

Lanes: Spark's parquet and ORC writers (`write_data_files`,
`write_delete_files`; committed by Spark's output committer, top-level
field ids via `parquet.field.id` alias metadata); the Arrow task writer
`_write_arrow_files` (the opt-in `write.parquet.field-id-mode=arrow`
lane and the stream sink, datasource.IcelakeStreamWriter; ids at every
nesting level, reference to_arrow.rs:15-45); the Avro lane
(avro_data.write_avro_data). Spark's shuffle + partitionBy replaces the
reference's FanoutPartitionedWriter (io_v2/, SURVEY §2.5), and
maxRecordsPerFile its rolling writer (rolling_writer.rs:59-244).

One registration tail, `_register_files`, and one DataFile builder,
`_build_data_file`: counts and bounds by field id from parquet footers
for data and delete files alike, row counts for ORC and Avro
(DataFileBuilder, in_memory.rs:1631-1716).

One partition-directory layout: `__p_<field>=<value>` hive dirs, named
by `_partition_dir` and read by `_parse_hive_value` — NULL is
__HIVE_DEFAULT_PARTITION__, a string '' the _EMPTY_PART marker (a
literal marker is prefix-escaped), values percent-quoted. Manifests
record every path, so file names themselves are free.
"""

from __future__ import annotations

import urllib.parse
import uuid
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fileio import (
    FileIO,
    delete_crc_sidecar,
    dirname,
    io_join,
    norm_path,
    rel_under,
    resolve_io,
)
from .types.datatypes import (PrimitiveType, Schema, encode_bound, parse_value,
                              to_spark_type)
from .types.manifest import CONTENT_DATA, DataFile
from .types.metadata import PartitionSpec
from .types.transforms import transform_column, transform_result_type

# ----------------------------------------------------- partition layout

_PART_PREFIX = "__p_"
_EMPTY_PART = "__EMPTY_STRING__"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _esc_empty(v: Any) -> Any:
    """The ''-vs-NULL marker for a STRING partition value (Spark's
    partitionBy writes both as __HIVE_DEFAULT_PARTITION__, so a
    partition_filter on '' would prune those rows). A literal marker
    value is prefix-escaped, or it would decode back as ''."""
    if isinstance(v, str) and (v == "" or v.startswith(_EMPTY_PART)):
        return _EMPTY_PART + v
    return v


def _hive_value(v: Any) -> str:
    if v is None:
        return _HIVE_NULL
    # percent-escape like Spark's hive layout: '/', '%', '=' etc. in a
    # value would otherwise corrupt the dir structure, and
    # _parse_hive_value unconditionally unquotes
    return urllib.parse.quote(str(v), safe="")


def _partition_dir(names: list[str], values: list) -> str:
    """The hive subdir of one layout tuple (values already escaped)."""
    return "/".join(f"{n}={_hive_value(v)}" for n, v in zip(names, values))


def _parse_hive_value(raw: str, t: PrimitiveType) -> Any:
    """Parse a hive-style partition-dir value into a python value."""
    if raw == _HIVE_NULL:
        return None
    s = urllib.parse.unquote(raw)
    if t.name == "string":
        # decode the ''-vs-NULL layout encoding
        if s == _EMPTY_PART:
            return ""
        if s.startswith(_EMPTY_PART):
            return s[len(_EMPTY_PART):]
    return parse_value(t, s)


def _result_type(pf, schema: Schema) -> PrimitiveType:
    src = schema.field_by_id(pf.source_column_id)
    return transform_result_type(pf.transform, src.field_type if src else None)


def _layout_types(spec: PartitionSpec, schema: Schema) -> dict:
    """{layout column: (partition field name, result type)}: how the
    registration tail reads a file's partition tuple off its dirs."""
    return {_PART_PREFIX + pf.name: (pf.name, _result_type(pf, schema))
            for pf in spec.fields}


def partition_columns(spec: PartitionSpec, schema: Schema) -> list:
    """The layout Column expressions of a partition spec: each field's
    transform, aliased `__p_<field>`. A string result carries
    _esc_empty's ''-vs-NULL encoding (Spark's partitionBy writes '' and
    NULL alike); data-file contents are untouched."""
    cols = []
    for pf in spec.fields:
        src = schema.field_by_id(pf.source_column_id)
        if src is None:
            raise KeyError(f"partition source field id {pf.source_column_id} not in schema")
        col = transform_column(pf.transform, F.col(src.name), src.field_type)
        if _result_type(pf, schema).name == "string":
            col = (F.when(col == "", F.lit(_EMPTY_PART))
                   .when(col.startswith(_EMPTY_PART),
                         F.concat(F.lit(_EMPTY_PART), col))
                   .otherwise(col))
        cols.append(col.alias(_PART_PREFIX + pf.name))
    return cols


def _sort_columns(metadata, schema: Schema) -> tuple[list, int | None]:
    """Table-declared sort order → sortWithinPartitions columns (O3,
    in_memory.rs:1059-1152 — the reference records but never executes
    sort orders; we execute them at write time)."""
    order = None
    for so in metadata.sort_orders:
        if so.order_id == metadata.default_sort_order_id and so.fields:
            order = so
    if order is None:
        return [], None
    cols = []
    for sf in order.fields:
        src = schema.field_by_id(sf.source_column_id)
        if src is None:
            continue
        c = transform_column(sf.transform, F.col(src.name), src.field_type)
        if sf.direction == "desc":
            c = c.desc_nulls_first() if sf.null_order == "nulls-first" else c.desc_nulls_last()
        else:
            c = c.asc_nulls_first() if sf.null_order == "nulls-first" else c.asc_nulls_last()
        cols.append(c)
    return cols, order.order_id


# table properties controlling the parquet sink, mirroring the
# reference's config surface (/root/reference/icelake/src/config.rs:59-285)
PROP_COMPRESSION = "write.parquet.compression-codec"   # snappy|zstd|gzip|...
PROP_DISTRIBUTION = "write.distribution-mode"          # none|hash|range
PROP_FORMAT = "write.format.default"                   # parquet (default) | orc
PROP_TARGET_FILE_SIZE = "write.target-file-size-bytes"
PROP_ROWS_PER_FILE = "write.rows-per-file"
PROP_BLOOM_PREFIX = "write.parquet.bloom-filter-enabled.column."
PROP_FIELD_ID_MODE = "write.parquet.field-id-mode"     # name (default) | arrow


def _refuse_process_local_store(path: str, lane: str) -> None:
    """The committer-less python-worker write lanes ship their FileIO
    with the task closure, so register_io customs write fine — but a
    memory:// store is per-PROCESS state: worker writes land in the
    worker's own dict and vanish with it, silently committing paths
    with no bytes behind them. Refuse loudly."""
    from .fileio import path_scheme

    if path_scheme(path) == "memory":
        raise NotImplementedError(
            f"the {lane} writer runs in python workers; memory:// "
            f"stores are process-local and would lose the written "
            f"bytes — use a disk- or object-store-backed scheme")


def _estimate_rows_per_file(df: DataFrame, target_bytes: int) -> int:
    """Byte-based rolling (S8, rolling_writer.rs:103-128): Spark's
    maxRecordsPerFile is row-based, so convert the byte target using the
    schema's estimated row width (cheap; no data scan)."""
    width = 0
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        width += {"bigint": 8, "double": 8, "int": 4, "float": 4,
                  "boolean": 1, "date": 4}.get(t, 24)
    # assume ~3x parquet compression over in-memory width
    est_file_row_bytes = max(2, width // 3)
    return max(1000, target_bytes // est_file_row_bytes)


def write_data_files(
    table,
    df: DataFrame,
    max_records_per_file: int | None = None,
    distribution_partitions: int | None = None,
    target_file_size: int | None = None,
    preserve_distribution: bool = False,
) -> list[DataFile]:
    """Distributed write of df as new data files; returns DataFile
    entries with stats. Does NOT commit — pair with Transaction.

    `preserve_distribution=True` keeps the caller's partitioning and
    row order (no repartition/coalesce, no table-sort-order re-sort):
    used by clustering rewrites like z-order, whose range exchange +
    sort IS the layout — the default hash shuffle on partition columns
    would scramble it and silently void the rewrite's pruning benefit.
    """
    metadata = table.metadata
    spec = metadata.default_spec()
    schema = metadata.current_schema()
    props = metadata.properties
    io = resolve_io(table.path)
    stage = io_join(table.path, "data", uuid.uuid4().hex[:16])

    # align column order AND types with the table schema: a bare
    # select would let e.g. an int column land in a long field as
    # physical INT32 parquet, which the reader's LongType request then
    # rejects on every subsequent scan (vectorized reader refuses the
    # conversion) — cast here so written files always match the schema.
    # Nested (struct-member / list / map element) ids are not
    # expressible via alias metadata — TOP-LEVEL ids only; nested
    # binding stays name-based (rename mapping) UNLESS the table opts
    # into the arrow lane (write.parquet.field-id-mode=arrow), which
    # stamps every nesting level.
    df = _with_field_ids(df, schema, cast=True)

    # table-declared sort order (O3) + distribution mode:
    #   hash (default) — shuffle on the partition-transform values so
    #     each partition lands in one task (J1 parity);
    #   range — repartitionByRange on (partition cols, sort cols): a
    #     sorted table gets globally clustered files whose per-file
    #     bounds tile the sort key (better zone-map pruning than
    #     hash + within-task sort, at the cost of a sampled exchange);
    #   none — trust the caller's distribution (same as
    #     preserve_distribution minus the sort suppression).
    sort_cols, sort_order_id = _sort_columns(metadata, schema)
    dist_mode = props.get(PROP_DISTRIBUTION, "hash").lower()
    # resolve the sizing knobs ONCE, before their first consumer — the
    # coalesce sizing and the maxRecordsPerFile sizing must agree
    if max_records_per_file is None and PROP_ROWS_PER_FILE in props:
        max_records_per_file = int(props[PROP_ROWS_PER_FILE])
    if target_file_size is None and PROP_TARGET_FILE_SIZE in props:
        target_file_size = int(props[PROP_TARGET_FILE_SIZE])
    writer_df = df
    pnames: list[str] = []
    if spec.is_unpartitioned and not preserve_distribution \
            and dist_mode == "hash":
        writer_df = _coalesce_to_target(writer_df, target_file_size)
    if not spec.is_unpartitioned:
        pnames = [_PART_PREFIX + pf.name for pf in spec.fields]
        writer_df = df.select("*", *partition_columns(spec, schema))
    if not preserve_distribution and dist_mode != "none":
        if dist_mode == "range" and sort_cols:
            range_keys = [F.col(p) for p in pnames] + list(sort_cols)
            if distribution_partitions:
                writer_df = writer_df.repartitionByRange(
                    distribution_partitions, *range_keys)
            else:
                writer_df = writer_df.repartitionByRange(*range_keys)
        elif pnames:
            # AQE coalesces small shuffle partitions; pass
            # distribution_partitions to widen for skew.
            if distribution_partitions:
                writer_df = writer_df.repartition(distribution_partitions,
                                                  *pnames)
            else:
                writer_df = writer_df.repartition(*pnames)

    # the sort order executes within each output task; a distribution-
    # preserving caller's own sort wins instead — and then the files
    # are NOT sorted by the table's declared order, so the manifest
    # must not claim they are (review r12: a z-order rewrite's files
    # were stamped sort_order_id of the suppressed table sort, and
    # any reader trusting it would merge-sort unsorted files)
    if sort_cols and not preserve_distribution:
        writer_df = writer_df.sortWithinPartitions(*sort_cols)
    elif preserve_distribution:
        sort_order_id = None

    w = writer_df.write.mode("errorifexists")
    if pnames:
        w = w.partitionBy(*pnames)
    if max_records_per_file is None and target_file_size:
        max_records_per_file = _estimate_rows_per_file(df, target_file_size)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if PROP_COMPRESSION in props:
        w = w.option("compression", props[PROP_COMPRESSION])
    # write.format.default (DataFileFormat parity, in_memory.rs:2057-91):
    # Spark writes ORC natively; Avro goes through the pure-Python
    # avro_io codec (avro_data.py) since the spark-avro module is not on
    # this environment's classpath.
    file_format = props.get(PROP_FORMAT, "parquet").lower()
    # paths returned by committer-less python-worker lanes (avro, arrow
    # parquet): a retried or speculative attempt may leave orphan part
    # files in the stage, so they register by task path list, never by
    # the stage listing. Their FileIO is resolved here and shipped with
    # the task closure; memory:// cannot be (each worker would write to
    # its own in-process store)
    task_paths: list[str] | None = None
    if file_format == "avro":
        from .avro_data import write_avro_data

        _refuse_process_local_store(table.path, "avro")
        task_paths = write_avro_data(writer_df, stage, schema,
                                     partition_cols=pnames,
                                     max_records_per_file=max_records_per_file)
    elif file_format == "orc":
        blooms = [k[len(PROP_BLOOM_PREFIX):] for k, v in props.items()
                  if k.startswith(PROP_BLOOM_PREFIX) and v.lower() == "true"]
        if blooms:
            w = w.option("orc.bloom.filter.columns", ",".join(blooms))
        w.orc(io.to_spark_path(stage))
    elif file_format == "parquet" \
            and props.get(PROP_FIELD_ID_MODE, "name").lower() == "arrow":
        _refuse_process_local_store(table.path, "arrow parquet")
        task_paths = write_parquet_arrow(
            writer_df, stage, schema, partition_cols=pnames,
            max_records_per_file=max_records_per_file,
            compression=props.get(PROP_COMPRESSION))
    elif file_format == "parquet":
        for k, v in props.items():  # parquet bloom filters (config.rs:74-93)
            if k.startswith(PROP_BLOOM_PREFIX) and v.lower() == "true":
                col = k[len(PROP_BLOOM_PREFIX):]
                w = w.option(f"parquet.bloom.filter.enabled#{col}", "true")
        _write_parquet(w, writer_df.sparkSession, io.to_spark_path(stage))
    else:
        raise ValueError(f"unsupported {PROP_FORMAT}={file_format} "
                         "(parquet|orc|avro)")
    return _register_files(io, stage, schema, _layout_types(spec, schema),
                           paths=task_paths, file_format=file_format.upper(),
                           sort_order_id=sort_order_id)


def _with_field_ids(df: DataFrame, schema: Schema, cast: bool) -> DataFrame:
    """df's columns in schema order, each aliased with its field id: the
    alias metadata (parquet.field.id) makes Spark's parquet writer
    stamp Iceberg field ids into the file schema (fieldId.write.enabled
    default true), so files interop with field-id-based readers (Java
    Iceberg, pyiceberg, our DSv2 reader) like the reference's
    to_arrow.rs:15-45 id propagation. WRITE side only: read schemas
    stay id-free — an id-carrying read schema makes Spark reject
    id-less legacy files. `cast` aligns each column with the schema's
    type (data files); a delete file's columns already have their
    types, and a struct cast would demand the schema's nullability of
    every member."""
    cols = []
    for f in schema.fields:
        c = F.col(f.name)
        if cast:
            c = c.cast(to_spark_type(f.field_type))
        cols.append(c.alias(f.name, metadata={"parquet.field.id": f.field_id}))
    return df.select(*cols)


def _write_parquet(w, spark, path: str) -> None:
    """Spark's parquet write with int64-micros timestamps, the Iceberg
    spec's encoding: Spark's INT96 default also writes NO parquet column
    statistics, silently stripping every timestamp column's zone-map
    bounds. default_session sets the conf, and scoped_conf leaves a
    session that holds it untouched — which keeps two writes that DML
    overlaps on driver threads (delta._overlap) safe, the conf being
    session-global, not thread-local."""
    from .ops.util import scoped_conf

    with scoped_conf(spark, "spark.sql.parquet.outputTimestampType",
                     "TIMESTAMP_MICROS"):
        w.parquet(path)


def write_delete_files(table, df: DataFrame, schema: Schema, content: int,
                       equality_ids: list[int] | None = None) -> list[DataFile]:
    """Write a delete-file frame (its columns named as `schema`'s, its
    spec-mandated order already applied by the caller) as parquet with
    field ids under data/del-<uuid>, and register it. Returns [] when
    the frame is empty: the write is its own emptiness probe (r13)."""
    io = resolve_io(table.path)
    stage = io_join(table.path, "data", f"del-{uuid.uuid4().hex[:16]}")
    _write_parquet(_with_field_ids(df, schema, cast=False).write,
                   df.sparkSession, io.to_spark_path(stage))
    return _register_files(io, stage, schema, content=content,
                           equality_ids=equality_ids)


def _register_files(io: FileIO, stage: str, schema: Schema,
                    layout: dict | None = None, paths: list[str] | None = None,
                    file_format: str = "PARQUET", content: int = CONTENT_DATA,
                    equality_ids: list[int] | None = None,
                    sort_order_id: int | None = None,
                    own_stage: bool = True) -> list[DataFile]:
    """The one registration tail of every writer: the `paths` the
    winning tasks returned, else the stage listing (Spark's committer
    only publishes complete files; its sizes are reused — a re-stat is
    one HEAD request per file on an object store), each built into a
    DataFile on threads or as a Spark job. Zero-row files (Spark's
    committer leaves them for tasks that got no rows; they would bloat
    manifests and survive every zone-map prune) are deleted with their
    .crc sidecar, and a stage this call created that holds no file is
    removed. The stream sink's stage also holds earlier epochs'
    committed files: own_stage=False keeps it."""
    sizes: dict[str, int] = {}
    if paths is None:
        ext = "." + file_format.lower()
        sizes = {f: sz for f, sz in io.list_files(stage) if f.endswith(ext)}
        paths = list(sizes)
    build = partial(_build_data_file, stage=stage, schema=schema,
                    layout=layout or {}, io=io, file_format=file_format,
                    content=content, equality_ids=equality_ids,
                    sort_order_id=sort_order_id)
    out = _build_all(build, paths, sizes)
    live = [d for d in out if d.record_count]
    for d in out:
        if not d.record_count:
            io.delete_quiet(d.file_path)
            delete_crc_sidecar(io, d.file_path)
    if own_stage and not live:
        io.remove_tree(stage)
    return live


def _align(tbl: "pa.Table", file_schema: "pa.Schema") -> "pa.Table":
    """Reorder/cast an Arrow batch to the id-stamped file schema. Spark
    has no uuid type, so uuid columns arrive as canonical-hex strings
    and convert to the spec's fixed[16] here; everything else (int64 µs
    → time64, session-tz → UTC timestamps, decimals) is a plain cast."""
    import pyarrow as pa

    cols = []
    for f in file_schema:
        col = tbl.column(f.name)
        if pa.types.is_fixed_size_binary(f.type) \
                and pa.types.is_string(col.type):
            col = pa.chunked_array([pa.array(
                [None if s is None else uuid.UUID(s).bytes
                 for s in c.to_pylist()], type=f.type)
                for c in col.chunks] or [pa.array([], type=f.type)])
        cols.append(col)
    return pa.Table.from_arrays(
        cols, names=[f.name for f in file_schema]).cast(file_schema)


def _split_by_layout(tbl: "pa.Table", pcols: list[str]) -> list:
    """[(hive subdir, rows)] per distinct layout tuple of a batch, the
    layout columns dropped — one Arrow group-by, no per-row Python."""
    import numpy as np
    import pyarrow as pa

    if not pcols:
        return [("", tbl)]
    groups = (tbl.select(pcols)
              .append_column("__i", pa.array(np.arange(tbl.num_rows)))
              .group_by(pcols, use_threads=False)
              .aggregate([("__i", "list")]))
    rows = tbl.drop_columns(pcols)
    return [(_partition_dir(pcols, [g[c] for c in pcols]),
             rows.take(g["__i_list"])) for g in groups.to_pylist()]


def _write_arrow_files(tables, stage: str, file_schema: "pa.Schema",
                       pcols: list[str], roll: int, codec: str,
                       fio: FileIO) -> list[tuple[str, int]]:
    """The Arrow task writer of the python-worker parquet lanes (the
    arrow parquet lane and the stream sink): splits each Arrow table by
    its layout columns `pcols`, writes each hive bucket against the
    id-stamped `file_schema` and returns the (path, rows) it finished.

    Scale shape: one streaming ParquetWriter per open hive bucket (the
    caller's repartition on the transform columns bounds open buckets
    per task), batches append as they arrive, and the roll cap closes
    files at `roll` rows — worker memory holds one compressed file
    buffer per open bucket, not the task's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    writers: dict[str, list] = {}  # subdir -> [writer, buf, rows]
    written: list[tuple[str, int]] = []

    def flush(subdir: str) -> None:
        w, buf, rows = writers.pop(subdir)
        w.close()
        if rows == 0:
            return
        d = io_join(stage, subdir) if subdir else stage
        fio.makedirs(d)
        path = d + f"/part-{uuid.uuid4().hex}.parquet"
        fio.write_bytes(path, buf.getvalue().to_pybytes())
        written.append((path, rows))

    for tbl in tables:
        for subdir, sub in _split_by_layout(tbl, pcols):
            sub = _align(sub, file_schema)
            offset = 0
            while offset < sub.num_rows:
                st = writers.get(subdir)
                if st is None:
                    buf = pa.BufferOutputStream()
                    st = writers[subdir] = [
                        pq.ParquetWriter(buf, file_schema,
                                         compression=codec), buf, 0]
                take = sub.num_rows - offset
                if roll:
                    # strict cap (maxRecordsPerFile semantics):
                    # slice the batch, don't just flush after it
                    take = min(take, roll - st[2])
                st[0].write_table(sub.slice(offset, take))
                st[2] += take
                offset += take
                if roll and st[2] >= roll:
                    flush(subdir)
    for subdir in list(writers):
        flush(subdir)
    return written


def write_parquet_arrow(df: DataFrame, stage: str, schema: Schema,
                        partition_cols: list[str] | None = None,
                        max_records_per_file: int | None = None,
                        compression: str | None = None) -> list[str]:
    """Arrow parquet writer lane (opt-in: write.parquet.field-id-mode =
    arrow): `_write_arrow_files` in each task against
    schema_to_arrow_with_ids, so files bind renamed nested members by
    id (datasource._rebind_struct). Task-commit protocol of
    write_avro_data: collect() keeps one winning attempt's paths per
    partition; retried/speculative losers' orphans never register."""
    import pyarrow as pa

    from .types.datatypes import schema_to_arrow_with_ids

    file_schema = schema_to_arrow_with_ids(schema)
    pcols = list(partition_cols or [])
    roll = max_records_per_file or 0
    codec = (compression or "snappy").lower()
    # resolved in the planning process and closed over — executor
    # workers can't re-resolve register_io schemes (write twin of the
    # DSv2 readers' shipped self.io)
    fio = resolve_io(stage)
    fio.makedirs(stage)

    def run(batches):
        written = _write_arrow_files(
            (pa.Table.from_batches([b]) for b in batches), stage,
            file_schema, pcols, roll, codec, fio)
        yield pa.RecordBatch.from_arrays(
            [pa.array([p for p, _n in written], type=pa.string())],
            names=["path"])

    return [r.path for r in
            df.mapInArrow(run, schema="path string").collect()]


# above this file count, footer-stat collection becomes a Spark job
# (SURVEY §7 risk 8: planning state must not be bounded by the driver)
DISTRIBUTED_STATS_THRESHOLD = 512

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024
# Catalyst's sizeInBytes is an in-memory row estimate; parquet encodes
# roughly this much smaller
_PARQUET_RATIO = 3


def _coalesce_to_target(df: DataFrame, target_file_size: int | None):
    """Right-size an unpartitioned write: a source with many small
    partitions would emit one tiny file per partition (the small-files
    problem the reference's rolling writer bounds from the other side).
    Estimate output bytes from Catalyst stats and coalesce DOWN — never
    up, never a shuffle — when the input is fragmented ≥2× beyond the
    byte target. Partitioned writes are already sized by their
    repartition on the transform columns.

    `target_file_size` arrives ALREADY property-resolved from the
    caller (write_data_files, write_equality_delete_files), so only the
    default fallback lives here.

    A persisted input must be loaded before it is estimated: until then
    it reports its source's size, unknown for an RDD, and nothing is
    coalesced. Reading the partition count under AQE loads it (a cached
    relation is a query stage); without AQE `_load_caches` does, so the
    file count does not depend on the conf."""
    tfs = target_file_size if target_file_size else DEFAULT_TARGET_FILE_SIZE
    try:
        cur = df.rdd.getNumPartitions()
        plan = df._jdf.queryExecution().optimizedPlan()
        _load_caches(plan)
        est = int(plan.stats().sizeInBytes())
    except Exception:
        return df
    want = max(1, (est + tfs * _PARQUET_RATIO - 1) // (tfs * _PARQUET_RATIO))
    if cur > want * 2:
        return df.coalesce(int(want))
    return df


def _load_caches(plan) -> None:
    """Fill each persisted relation of an optimized plan that is not
    loaded yet; a loaded one (always the case after AQE ran the plan's
    stages) costs no job."""
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "InMemoryRelation":
            cache = leaf.cacheBuilder()
            if not cache.isCachedColumnBuffersLoaded():
                cache.cachedColumnBuffers().count()


def _build_all(build, paths: list[str], sizes: dict[str, int]) -> list[DataFile]:
    """`build` (a `_build_data_file` partial) over `paths`: driver
    threads, or past DISTRIBUTED_STATS_THRESHOLD files a Spark job whose
    executors read the footers and return pickled DataFile entries, so
    the driver's work stays O(#files) metadata assembly."""
    import pickle

    from pyspark.sql import SparkSession

    spark = (SparkSession.getActiveSession()
             if len(paths) > DISTRIBUTED_STATS_THRESHOLD else None)
    if spark is None:
        with ThreadPoolExecutor(max_workers=16) as pool:
            return list(pool.map(lambda p: build(p, size=sizes.get(p)),
                                 paths))

    import pandas as pd

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame({"blob": [
                pickle.dumps(build(p, size=None if sz < 0 else int(sz)))
                for p, sz in zip(pdf["path"], pdf["size"])]})

    n_parts = max(1, min(len(paths) // 64, 256))
    files_df = spark.createDataFrame(
        [(p, sizes.get(p, -1)) for p in paths],
        "path string, size long").repartition(n_parts)
    blobs = files_df.mapInPandas(run, schema="blob binary").collect()
    return [pickle.loads(bytes(r.blob)) for r in blobs]


def _build_data_file(path: str, stage: str, schema: Schema,
                     layout: dict[str, tuple[str, PrimitiveType]],
                     io: FileIO | None = None, size: int | None = None,
                     file_format: str | None = None,
                     content: int = CONTENT_DATA,
                     equality_ids: list[int] | None = None,
                     sort_order_id: int | None = None) -> DataFile:
    """The one DataFile builder. `schema` is the FILE's Iceberg schema
    (the table's for data files, the delete schema for delete files):
    per-column metrics are keyed by its field ids. `layout` reads the
    partition tuple off the hive dirs between `stage` and the file.
    `file_format` (PARQUET, ORC, AVRO) falls back to the extension."""
    import pyarrow.parquet as pq

    if io is None:
        io = resolve_io(path)
    partition: dict[str, Any] = {}
    rel = rel_under(stage, dirname(path))
    if rel != ".":
        for comp in rel.replace("\\", "/").split("/"):
            k, eq, v = comp.partition("=")
            if eq and k in layout:
                name, t = layout[k]
                partition[name] = _parse_hive_value(v, t)
    fmt = (file_format or {"orc": "ORC", "avro": "AVRO"}.get(
        path.rsplit(".", 1)[-1].lower(), "PARQUET")).upper()
    entry = DataFile(
        file_path=norm_path(path), file_format=fmt, partition=partition,
        file_size_in_bytes=size if size is not None else io.size(path),
        content=content, equality_ids=equality_ids,
        sort_order_id=sort_order_id)
    if fmt == "ORC":
        # ORC/Avro: row count but no per-column min/max, so the entry
        # records counts/size only (zone-map pruning can't skip these
        # files; correctness unaffected)
        from pyarrow import orc as _orc

        entry.record_count = _orc.ORCFile(io.open_input(path)).nrows
        return entry
    if fmt == "AVRO":
        from .avro_io import count_records

        entry.record_count = count_records(path, io=io)
        return entry

    md = pq.read_metadata(io.open_input(path))
    entry.record_count = md.num_rows
    ids_by_name = {f.name: f.field_id for f in schema.fields}
    col_sizes: dict[int, int] = {}
    value_counts: dict[int, int] = {}
    null_counts: dict[int, int] = {}
    mins: dict[int, Any] = {}
    maxs: dict[int, Any] = {}
    have_stats: dict[int, bool] = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            # nested leaves (struct members, list elements) carry dotted
            # paths; attributing them to the top-level field id would sum
            # every leaf's counts into one id (a 2-leaf struct would
            # report 2x value_counts). Only top-level primitive columns
            # get per-column metrics — matching the min/max gate below.
            if "." in col.path_in_schema:
                continue
            fid = ids_by_name.get(col.path_in_schema)
            if fid is None:
                continue
            col_sizes[fid] = col_sizes.get(fid, 0) + col.total_compressed_size
            value_counts[fid] = value_counts.get(fid, 0) + col.num_values
            st = col.statistics
            if st is None:
                have_stats[fid] = False
                continue
            if st.null_count is not None:
                null_counts[fid] = null_counts.get(fid, 0) + st.null_count
            if st.has_min_max:
                try:
                    # pyarrow cannot decode stats for every logical type
                    # (e.g. int64-backed DECIMAL raises NotImplemented);
                    # degrade to bounds-absent rather than failing the write
                    lo, hi = st.min, st.max
                except Exception:
                    have_stats[fid] = False
                    continue
                if fid not in mins or _lt(lo, mins[fid]):
                    mins[fid] = lo
                if fid not in maxs or _lt(maxs[fid], hi):
                    maxs[fid] = hi
                have_stats.setdefault(fid, True)
            else:
                have_stats[fid] = False

    lower: dict[int, bytes] = {}
    upper: dict[int, bytes] = {}
    for fid, ok in have_stats.items():
        if not ok or fid not in mins:
            continue
        f = schema.field_by_id(fid)
        if f is None or not isinstance(f.field_type, PrimitiveType):
            continue
        try:
            lo_v, hi_v = _truncate_bounds(f.field_type, mins[fid], maxs[fid])
            lower[fid] = encode_bound(f.field_type, lo_v)
            upper[fid] = encode_bound(f.field_type, hi_v)
        except (ValueError, TypeError):
            continue
    entry.column_sizes = col_sizes or None
    entry.value_counts = value_counts or None
    entry.null_value_counts = null_counts or None
    entry.lower_bounds = lower or None
    entry.upper_bounds = upper or None
    return entry


def _lt(a: Any, b: Any) -> bool:
    try:
        return a < b
    except TypeError:
        return False


_BOUND_TRUNC = 16


def _truncate_bounds(t: PrimitiveType, lo: Any, hi: Any) -> tuple[Any, Any]:
    """Truncate long string bounds (lower: prefix; upper: prefix with last
    char incremented so it stays an upper bound)."""
    if t.name != "string" or not isinstance(lo, str):
        return lo, hi
    lo_t = lo[:_BOUND_TRUNC]
    if len(hi) > _BOUND_TRUNC:
        prefix = hi[:_BOUND_TRUNC]
        for i in range(len(prefix) - 1, -1, -1):
            cp = ord(prefix[i])
            # skip increments landing in the UTF-16 surrogate range —
            # chr(0xD800..0xDFFF) cannot UTF-8-encode, and the resulting
            # ValueError would silently drop BOTH bounds for the column
            nxt = cp + 1
            if nxt == 0xD800:
                nxt = 0xE000
            if cp < 0x10FFFF:
                hi = prefix[:i] + chr(nxt)
                break
    return lo_t, hi


# ------------------------------------------------------------- public API


def append(table, df: DataFrame, max_records_per_file: int | None = None,
           distribution_partitions: int | None = None,
           branch: str | None = None,
           properties: dict[str, str] | None = None) -> None:
    """INSERT INTO semantics (AppendOnlyWriter, W9). `branch` stages the
    commit on a named ref instead of main (write-audit-publish).
    `properties` are set IN the same commit (e.g. a streaming epoch
    marker, so replay-after-crash can detect the committed batch)."""
    from .transaction import Transaction

    files = write_data_files(table, df, max_records_per_file, distribution_partitions)
    if files and files[0].partition:
        from .metrics import record_partition_writers

        record_partition_writers(
            _table_label(table),
            len({tuple(sorted(f.partition.items())) for f in files}))
    tx = Transaction(table, branch=branch)
    tx.add_data_files(files)
    if properties:
        tx.set_properties(properties)
    tx.commit("append")


def _table_label(table) -> str:
    """Metric label for a table — same value Transaction._table_name
    uses, so the writer gauge and commit counters correlate."""
    from .fileio import basename

    ident = getattr(table, "identifier", None)
    return str(ident) if ident else basename(table.path)


def overwrite_all(table, df: DataFrame, **kwargs) -> None:
    """Replace the whole table contents (dynamic overwrite of everything)."""
    from .transaction import Transaction

    files = write_data_files(table, df, **kwargs)
    tx = Transaction(table)
    tx.remove_all_existing()
    tx.add_data_files(files)
    tx.commit("overwrite")
