"""Append write path: transform columns → shuffle by partition →
parquet fan-out → per-file stats → DataFile entries.

Parity targets:
- writer tree semantics: /root/reference/icelake/src/io_v2/ (SURVEY §2.5)
  — Spark's shuffle + partitionBy replaces FanoutPartitionedWriter's
  in-process hashmap (partition_writer.rs:26-122);
- rolling file split: rolling_writer.rs:59-244 → maxRecordsPerFile;
- per-file column stats from parquet footers: in_memory.rs:1631-1716
  (DataFileBuilder) — we read footers with pyarrow in a thread pool;
- file naming/layout: location_generator.rs — paths are recorded in
  manifests so the exact names are free; we keep Spark task output names
  under data/<uuid>/ (hive-style partition dirs when partitioned).

Scale notes: the write itself is fully distributed (one Spark job, no
driver data movement); only footer reads (~KB each) happen driver-side,
parallelized over threads. At very large file counts these can move into
a Spark job over the file list (planner returns a DataFrame) — see
SURVEY §7 risk 8.
"""

from __future__ import annotations

import datetime as dt
import urllib.parse
import uuid
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal
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
from .types.datatypes import PrimitiveType, Schema, encode_bound
from .types.manifest import CONTENT_DATA, DataFile
from .types.metadata import PartitionSpec
from .types.transforms import transform_column, transform_result_type

_PART_PREFIX = "__p_"


def partition_columns(spec: PartitionSpec, schema: Schema) -> list:
    """Build the transform Column expressions for a partition spec."""
    cols = []
    for pf in spec.fields:
        src = schema.field_by_id(pf.source_column_id)
        if src is None:
            raise KeyError(f"partition source field id {pf.source_column_id} not in schema")
        col = transform_column(pf.transform, F.col(src.name), src.field_type)
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
    """Distributed write of df as new parquet data files; returns DataFile
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
    # conversion) — cast here so written files always match the schema
    from .types.datatypes import to_spark_type

    # the alias metadata (parquet.field.id) makes Spark's parquet
    # writer stamp Iceberg field ids into the file schema
    # (fieldId.write.enabled default true), so data files interop with
    # field-id-based readers (Java Iceberg, pyiceberg, our DSv2
    # reader) exactly like the reference's to_arrow.rs:15-45 id
    # propagation. WRITE side only: read schemas stay id-free — an
    # id-carrying read schema makes Spark reject id-less legacy files.
    # Nested (struct-member / list / map element) ids are not
    # expressible via alias metadata — TOP-LEVEL ids only; nested
    # binding stays name-based (rename mapping) UNLESS the table opts
    # into the arrow lane (write.parquet.field-id-mode=arrow →
    # write_parquet_arrow below), which stamps every nesting level.
    df = df.select(*[
        F.col(f.name).cast(to_spark_type(f.field_type))
        .alias(f.name, metadata={"parquet.field.id": f.field_id})
        for f in schema.fields])

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
        writer_df = _coalesce_to_target(writer_df, props, target_file_size)
    if not spec.is_unpartitioned:
        pcols = partition_columns(spec, schema)
        pnames = [_PART_PREFIX + pf.name for pf in spec.fields]
        # empty-string partition values must stay distinguishable from
        # NULL: Spark's partitionBy writes BOTH as
        # __HIVE_DEFAULT_PARTITION__, so the manifest recorded NULL
        # for '' rows and a partition_filter={'c': ''} scan silently
        # pruned them (review r12). Encode '' (and prefix-escape a
        # literal marker) in the LAYOUT column only; _parse_hive_value
        # decodes it back — data-file contents are untouched.
        enc = []
        for pf, c in zip(spec.fields, pcols):
            if _result_type(pf, schema).name == "string":
                c = (F.when(c == "", F.lit(_EMPTY_PART))
                     .when(c.startswith(_EMPTY_PART),
                           F.concat(F.lit(_EMPTY_PART), c))
                     .otherwise(c)).alias(_PART_PREFIX + pf.name)
            enc.append(c)
        writer_df = df.withColumns(dict(zip(pnames, enc)))
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
    # parquet): committed by task path list, never by stage dir walk
    task_paths: list[str] | None = None
    if file_format == "avro":
        from .avro_data import write_avro_data

        # avro tasks have no output committer: inventory ONLY the paths
        # the winning task attempts returned, never the stage dir walk
        # (a retried/speculative attempt may leave orphan part files).
        # register_io customs work — the lane closes over the FileIO
        # resolved in THIS process and ships it; memory:// cannot (each
        # worker would write to its own in-process store and the bytes
        # evaporate with the worker)
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
        # opt-in pyarrow writer lane: stamps PARQUET:field_id at EVERY
        # nesting level (reference to_arrow.rs:15-45); Spark's alias
        # metadata above covers top-level ids only
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
        # int64 micros per the Iceberg spec; Spark's INT96 default also
        # writes NO parquet column statistics, silently stripping every
        # timestamp column's zone-map bounds (review r13). Set/restore
        # is safe here: .parquet() executes eagerly. default_session
        # sets it globally; this covers foreign sessions.
        _sess = writer_df.sparkSession
        _TT = "spark.sql.parquet.outputTimestampType"
        _prev_tt = _sess.conf.get(_TT, None)
        if _prev_tt == "TIMESTAMP_MICROS":
            # already the session default (default_session sets it):
            # skip the set/restore — also keeps this safe when DML
            # overlaps two writes on driver threads (guide §2.6), since
            # the conf is session-global, not thread-local
            w.parquet(io.to_spark_path(stage))
        else:
            _sess.conf.set(_TT, "TIMESTAMP_MICROS")
            try:
                w.parquet(io.to_spark_path(stage))
            finally:
                if _prev_tt is None:
                    _sess.conf.unset(_TT)
                else:
                    _sess.conf.set(_TT, _prev_tt)
    else:
        raise ValueError(f"unsupported {PROP_FORMAT}={file_format} "
                         "(parquet|orc|avro)")

    # inventory written files (parquet/orc commit via Spark's committer,
    # so the stage walk only ever sees complete files; the python-worker
    # lanes use the task-returned path list instead)
    known_sizes: dict[str, int] = {}
    if task_paths is not None:
        paths = list(task_paths)
    else:
        listed = [(f, sz) for f, sz in io.list_files(stage)
                  if f.endswith((".parquet", ".orc"))]
        paths = [f for f, _sz in listed]
        # reuse the sizes the listing already returned: re-statting
        # every file in _build_data_file is one extra HEAD request per
        # written file per commit on an object store (review r11)
        known_sizes = dict(listed)
    result_types = {
        _PART_PREFIX + pf.name: (pf.name, _result_type(pf, schema)) for pf in spec.fields
    }
    if len(paths) > DISTRIBUTED_STATS_THRESHOLD:
        out = _build_data_files_distributed(
            table, paths, stage, schema, result_types, sort_order_id, io,
            known_sizes=known_sizes)
    else:
        with ThreadPoolExecutor(max_workers=16) as pool:
            out = list(pool.map(
                lambda p: _build_data_file(p, stage, schema, result_types,
                                           sort_order_id, io,
                                           size=known_sizes.get(p)), paths))
    # Spark's committer leaves ZERO-ROW part files for output tasks that
    # received no rows; committing them bloats manifests forever, and —
    # carrying no column stats — they survive every zone-map prune, so
    # a fully-pruned time-range scan still opened them (review r13).
    # Drop them from the commit and reclaim the bytes.
    live = [d for d in out if (d.record_count or 0) > 0]
    if len(live) != len(out):
        for d in out:
            if (d.record_count or 0) == 0:
                io.delete_quiet(d.file_path)
                # and the local-FS checksum sidecar (ADVICE r13)
                delete_crc_sidecar(io, d.file_path)
    if not live:
        # fully-empty write (the no-match DML probe case, r13): reclaim
        # the committer markers (_SUCCESS) AND the stage directory —
        # file-wise deletion left an empty uuid stage dir (plus any
        # partition subdirs) behind per no-match DML (ADVICE r13)
        io.remove_tree(stage)
    return live


def write_parquet_arrow(df: DataFrame, stage: str, schema: Schema,
                        partition_cols: list[str] | None = None,
                        max_records_per_file: int | None = None,
                        compression: str | None = None) -> list[str]:
    """Arrow parquet writer lane (opt-in: write.parquet.field-id-mode =
    arrow): pyarrow writes each file against schema_to_arrow_with_ids,
    which carries PARQUET:field_id at EVERY nesting level — struct
    members, list elements, map keys/values — the id propagation the
    reference does in to_arrow.rs:15-45. Spark's own parquet writer
    (the default lane) can only stamp TOP-LEVEL ids via alias metadata,
    so files it writes bind renamed nested members by name; files from
    this lane bind them by id (datasource._rebind_struct).

    Same task-commit protocol as write_avro_data: executor tasks write
    straight into `stage` and yield the paths they finished; collect()
    keeps one winning attempt per partition, so retried/speculative
    losers' orphans are never registered as table data.

    Scale shape: one streaming ParquetWriter per open hive bucket per
    task (the caller's repartition on the transform columns bounds open
    buckets per task), batches append as they arrive, and the roll cap
    closes files at max_records_per_file — worker memory holds one
    compressed file buffer per open bucket, not the task's rows.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .avro_data import _hive_value
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

    def _align(tbl: "pa.Table") -> "pa.Table":
        """Reorder/cast a Spark arrow batch to the id-stamped schema.
        Spark has no uuid type, so uuid columns arrive as canonical-hex
        strings and convert to the spec's fixed[16] here; everything
        else (int64 µs → time64, session-tz → UTC timestamps, decimals)
        is a plain cast."""
        import uuid as _uuidlib

        cols = []
        for f in file_schema:
            col = tbl.column(f.name)
            if pa.types.is_fixed_size_binary(f.type) \
                    and pa.types.is_string(col.type):
                col = pa.chunked_array([pa.array(
                    [None if s is None else _uuidlib.UUID(s).bytes
                     for s in c.to_pylist()], type=f.type)
                    for c in col.chunks] or [pa.array([], type=f.type)])
            cols.append(col)
        return pa.Table.from_arrays(
            cols, names=[f.name for f in file_schema]).cast(file_schema)

    def run(batches):
        writers: dict[str, list] = {}  # subdir -> [writer, buf, rows]
        written: list[str] = []

        def flush(subdir: str) -> None:
            w, buf, rows = writers.pop(subdir)
            w.close()
            if rows == 0:
                return
            d = io_join(stage, subdir) if subdir else stage
            fio.makedirs(d)
            path = d + f"/part-{uuid.uuid4().hex}.parquet"
            fio.write_bytes(path, buf.getvalue().to_pybytes())
            written.append(path)

        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if pcols:
                keys = list(zip(*[tbl.column(c).to_pylist() for c in pcols]))
                tbl = tbl.drop_columns(pcols)
                groups: dict[str, list[int]] = {}
                for i, k in enumerate(keys):
                    subdir = "/".join(f"{c}={_hive_value(v)}"
                                      for c, v in zip(pcols, k))
                    groups.setdefault(subdir, []).append(i)
                parts = [(s, tbl.take(pa.array(ix, type=pa.int64())))
                         for s, ix in groups.items()]
            else:
                parts = [("", tbl)]
            for subdir, sub in parts:
                sub = _align(sub)
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
        yield pa.RecordBatch.from_arrays(
            [pa.array(written, type=pa.string())], names=["path"])

    return [r.path for r in
            df.mapInArrow(run, schema="path string").collect()]


# above this file count, footer-stat collection becomes a Spark job
# (SURVEY §7 risk 8: planning state must not be bounded by the driver)
DISTRIBUTED_STATS_THRESHOLD = 512

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024
# Catalyst's sizeInBytes is an in-memory row estimate; parquet encodes
# roughly this much smaller
_PARQUET_RATIO = 3


def _coalesce_to_target(df: DataFrame, props, target_file_size):
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

    The partition count is read first: under AQE that runs the plan's
    query stages, which materializes a persisted input, and a
    materialized cache reports its real size to the estimate below
    (before that it reports its source's, unknown for an RDD)."""
    tfs = target_file_size if target_file_size else DEFAULT_TARGET_FILE_SIZE
    try:
        cur = df.rdd.getNumPartitions()
        est = int(df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
    except Exception:
        return df
    want = max(1, (est + tfs * _PARQUET_RATIO - 1) // (tfs * _PARQUET_RATIO))
    if cur > want * 2:
        return df.coalesce(int(want))
    return df


def _build_data_files_distributed(table, paths, stage, schema, result_types,
                                  sort_order_id, io: FileIO,
                                  known_sizes: dict[str, int] | None = None,
                                  ) -> list[DataFile]:
    """Footer-stat collection as a Spark job: executors read parquet
    footers with pyarrow and return pickled DataFile entries. Keeps the
    driver's work at O(#files) metadata assembly only."""
    import pickle

    from pyspark.sql import SparkSession

    known_sizes = known_sizes or {}
    spark = SparkSession.getActiveSession()
    if spark is None:
        # no session to distribute over; fall back to driver threads
        with ThreadPoolExecutor(max_workers=16) as pool:
            return list(pool.map(
                lambda p: _build_data_file(p, stage, schema, result_types,
                                           sort_order_id, io,
                                           size=known_sizes.get(p)),
                paths))

    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = []
            for p, sz in zip(pdf["path"], pdf["size"]):
                df_entry = _build_data_file(
                    p, stage, schema, result_types, sort_order_id, io,
                    size=None if sz < 0 else int(sz))
                out.append(pickle.dumps(df_entry))
            yield pd.DataFrame({"blob": out})

    n_parts = max(1, min(len(paths) // 64, 256))
    files_df = spark.createDataFrame(
        [(p, known_sizes.get(p, -1)) for p in paths],
        "path string, size long").repartition(n_parts)
    blobs = files_df.mapInPandas(run, schema="blob binary").collect()
    return [pickle.loads(bytes(r.blob)) for r in blobs]


def _result_type(pf, schema: Schema) -> PrimitiveType:
    src = schema.field_by_id(pf.source_column_id)
    return transform_result_type(pf.transform, src.field_type if src else None)


from .avro_data import _EMPTY_PART  # one marker shared by every lane


def _parse_hive_value(raw: str, t: PrimitiveType) -> Any:
    """Parse a hive-style partition-dir value into a python value."""
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    s = urllib.parse.unquote(raw)
    if t.name == "string":
        # decode the write side's ''-vs-NULL layout encoding
        if s == _EMPTY_PART:
            return ""
        if s.startswith(_EMPTY_PART):
            return s[len(_EMPTY_PART):]
    n = t.name
    if n in ("int", "long"):
        return int(s)
    if n in ("float", "double"):
        return float(s)
    if n == "decimal":
        return Decimal(s)
    if n == "boolean":
        return s.lower() == "true"
    if n == "date":
        return dt.date.fromisoformat(s)
    if n == "timestamp":
        return dt.datetime.fromisoformat(s)
    if n == "timestamptz":
        v = dt.datetime.fromisoformat(s)
        return v if v.tzinfo else v.replace(tzinfo=dt.timezone.utc)
    return s  # string / uuid


def _build_data_file(path: str, stage: str, schema: Schema,
                     result_types: dict[str, tuple[str, PrimitiveType]],
                     sort_order_id: int | None = None,
                     io: FileIO | None = None,
                     size: int | None = None) -> DataFile:
    import pyarrow.parquet as pq

    if io is None:
        io = resolve_io(path)
    # partition tuple from hive dirs between stage and the file
    partition: dict[str, Any] = {}
    rel = rel_under(stage, dirname(path))
    if rel != ".":
        for comp in rel.replace("\\", "/").split("/"):
            if "=" not in comp:
                continue
            k, _, v = comp.partition("=")
            if k in result_types:
                name, t = result_types[k]
                partition[name] = _parse_hive_value(v, t)

    if path.endswith((".orc", ".avro")):
        # ORC/Avro: row count but no per-column min/max, so the DataFile
        # records counts/size only (scan-level zone-map pruning simply
        # can't skip these files; correctness unaffected)
        if path.endswith(".orc"):
            from pyarrow import orc as _orc

            nrows = _orc.ORCFile(io.open_input(path)).nrows
            fmt = "ORC"
        else:
            from .avro_data import count_avro_records

            nrows = count_avro_records(path, io=io)
            fmt = "AVRO"
        return DataFile(
            file_path=norm_path(path),
            file_format=fmt,
            partition=partition,
            record_count=nrows,
            file_size_in_bytes=size if size is not None else io.size(path),
            content=CONTENT_DATA,
            sort_order_id=sort_order_id,
        )

    md = pq.read_metadata(io.open_input(path))
    ids_by_name = {f.name: f.field_id for f in schema.fields}
    types_by_name = {f.name: f.field_type for f in schema.fields}
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
            # (dotted nested-leaf paths were already skipped above)
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

    return DataFile(
        file_path=norm_path(path),
        file_format="PARQUET",
        partition=partition,
        record_count=md.num_rows,
        file_size_in_bytes=size if size is not None else io.size(path),
        content=CONTENT_DATA,
        column_sizes=col_sizes or None,
        value_counts=value_counts or None,
        null_value_counts=null_counts or None,
        lower_bounds=lower or None,
        upper_bounds=upper or None,
        sort_order_id=sort_order_id,
    )


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
        else:
            hi = hi  # pathological; keep full value
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
