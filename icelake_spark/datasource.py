"""Python DataSource (Spark 4 API): `spark.read.format("icelake")`.

Registers the Iceberg table layer as a first-class Spark data source:

    spark.dataSource.register(IcelakeDataSource)
    df = (spark.read.format("icelake")
          .option("path", "/warehouse/db/table")
          .option("snapshot_id", "...")          # optional time travel
          .load())

Batch reads (IcelakeReader): planning (snapshot → pruned file list)
runs on the driver exactly like TableScan; `pushFilters` turns the
filters Spark pushes into the scan's pruning expression (pruning.py),
which prunes manifests, partitions and files before Spark sees the
partitions. The merge-on-read deletes come from the same
planning.DeletePlan the Spark join builder uses (sequence gates,
equality groups, partition scopes, canonical paths): each data file
becomes a file task carrying the deletes that apply to it, read via
pyarrow and masked with Arrow kernels — a row-index mask for position
deletes and a null-safe Arrow join for equality keys. File tasks are
packed in planned order into combined scan tasks (_pack: Iceberg's
read.split.target-size and read.split.open-file-cost defaults), so one
InputPartition reads up to 128 MiB of files one file at a time and
reads each delete file it needs once.

Streams: `spark.readStream.format("icelake")` is the partition-based
IcelakePartitionStreamReader — appended files, packed like the batch
read, or with option("changelog", "true") one CDC partition per
snapshot, whose file tasks take their deletes from the same DeletePlan
and are masked by the same Arrow code as batch reads
(_TableFileReader._dead_mask). The stream reads take an append
snapshot's added files, skip delete and replace snapshots, and fail on
an overwrite unless option("skip_overwrite_snapshots", "true") — the
batch incremental read's rule (streaming.append_snapshots).
`df.writeStream.format("icelake")` is the transactional
IcelakeStreamWriter, an Arrow lane of the writer tree (write.py).

NOTE ON THE FAST PATH: rows here flow through Python workers (the Python
DataSource contract), which cannot match the JVM vectorized parquet
reader, and every Spark task pays a fixed Python-worker round trip,
which is why small files share a task. `IcebergTable.to_df()` remains
the performance path — this source exists for API completeness (SQL
`USING icelake`, format-based readers, catalog-less tools). Parity
target: the DSv2 upgrade path noted in SURVEY §4 and the reference's
engine integrations.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterator

import numpy as np
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from .binding import (name_binding, parquet_ids, recorded_ids,
                      source_column)
from .planning import canon_data_path, plan_deletes


@dataclass
class _FileTask(InputPartition):
    """One data file plus the deletes that apply to it, taken from the
    scan's planning.DeletePlan — sequence-gated and partition-scoped on
    the driver, so the task only reads and masks."""
    file_path: str
    file_format: str = "PARQUET"  # PARQUET | ORC | AVRO (add_files)
    # deleted row positions, resolved ONCE on the driver while the
    # position-delete set is under the broadcast threshold (no task
    # re-reads every delete file: N tasks x M files); None otherwise
    positions: Any = None
    pos_files: tuple[str, ...] = ()  # read by the task when unresolved
    # (key columns, equality-delete files), one entry per key group
    eq_deletes: tuple[tuple[tuple[str, ...], tuple[str, ...]], ...] = ()
    # bytes of the data file plus the delete files that apply to it
    size: int = 0

    @property
    def has_deletes(self) -> bool:
        return (self.positions is not None or bool(self.pos_files)
                or bool(self.eq_deletes))


# Iceberg's read.split.target-size and read.split.open-file-cost defaults
SPLIT_TARGET_SIZE = 128 * 1024 * 1024
SPLIT_OPEN_FILE_COST = 4 * 1024 * 1024


@dataclass
class _ScanTask(InputPartition):
    """One Spark task of a batch or plain stream read: consecutive file
    tasks of the plan, read one file at a time."""
    files: tuple[_FileTask, ...]


def _one_schema(tables: Iterator) -> Iterator:
    """Arrow tables as the record batches of one Spark task, which form
    one Arrow stream of one schema: an imported file may project to
    other physical types (large_string), so a table whose schema
    differs from the first one's is cast to it."""
    schema = None
    for t in tables:
        if schema is None:
            schema = t.schema
        elif not t.schema.equals(schema):
            t = t.cast(schema)
        yield from t.to_batches()
        del t  # release this table before the next one is read


def _pack(files: list[_FileTask]) -> list[_ScanTask]:
    """Next-fit packing of file tasks, in planned order, into scan
    tasks: a file weighs its `size`, at least SPLIT_OPEN_FILE_COST, and
    a task closes before it would pass SPLIT_TARGET_SIZE, so a heavier
    file is a task of its own. Files are never split."""
    out: list[_ScanTask] = []
    cur: list[_FileTask] = []
    weight = 0
    for f in files:
        w = max(f.size, SPLIT_OPEN_FILE_COST)
        if cur and weight + w > SPLIT_TARGET_SIZE:
            out.append(_ScanTask(tuple(cur)))
            cur, weight = [], 0
        cur.append(f)
        weight += w
    if cur:
        out.append(_ScanTask(tuple(cur)))
    return out


class IcelakeDataSource(DataSource):
    # register(spark) snapshots register_io factories here so planner/
    # executor workers (fresh processes) can resolve custom schemes
    _io_registry: dict = {}

    def __init__(self, options):
        super().__init__(options)
        self._install_io_registry()

    def _install_io_registry(self) -> None:
        """Reinstall the snapshotted register_io factories in THIS
        process. Called from every entry point, not only __init__ —
        Spark pickles the DataSource instance between its planner
        workers, and unpickling does not re-run __init__. OVERWRITES
        any prior factory for the scheme: planner workers are reused
        across queries, so a stale registration (an earlier session's
        re-register_io of the same scheme — different root, rotated
        credentials) would otherwise shadow this query's snapshot
        forever (was setdefault; surfaced as 'no metadata files' under
        the OLD root)."""
        if type(self)._io_registry:
            from . import fileio

            for sch, fac in type(self)._io_registry.items():
                fileio._REGISTRY[sch] = fac

    @classmethod
    def name(cls) -> str:
        return "icelake"

    def schema(self):
        from pyspark.sql.types import StructField, StructType

        from .table import IcebergTable

        self._install_io_registry()
        t = IcebergTable.load(self.options["path"])
        # sources report plain nullable fields: Spark normalizes scan
        # output to nullable, and the streaming runner asserts the Arrow
        # batches it prefetches round-trip to EXACTLY this schema — field
        # metadata (our Iceberg column ids) would not survive Arrow
        fields = [StructField(f.name, f.dataType, True)
                  for f in _read_schema(t, self.options).to_spark().fields]
        if self.options.get("changelog", "").lower() in ("true", "1"):
            from pyspark.sql.types import StringType

            fields.append(StructField("_change_type", StringType(), True))
        return StructType(fields)

    def reader(self, schema) -> "IcelakeReader":
        if self.options.get("changelog", "").lower() in ("true", "1"):
            # the option is a STREAMING-read feature; a batch scan would
            # otherwise return the plain current snapshot with an
            # all-NULL _change_type column masquerading as CDC rows
            raise ValueError(
                "changelog=true is only supported with readStream; for a "
                "batch changelog use IcebergTable.changes(spark)")
        self._install_io_registry()
        return IcelakeReader(self.options, schema)

    def streamReader(self, schema) -> "IcelakePartitionStreamReader":  # noqa: N802
        """Partition-based micro-batch source (the scale path): planned
        per offset range on the driver, READ ON EXECUTORS — packed scan
        tasks of data files (plain mode) or one InputPartition per
        snapshot (changelog mode), nothing materialized driver-side."""
        self._install_io_registry()
        return IcelakePartitionStreamReader(self.options, schema)

    def streamWriter(self, schema, overwrite: bool) -> "IcelakeStreamWriter":  # noqa: N802
        self._install_io_registry()
        return IcelakeStreamWriter(self.options, schema)


def _read_avro_arrow(spark_schema, file_path: str, table_path: str,
                     binding, field_ids: dict[str, int],
                     table_store: str = "", io=None):
    """Decode one avro data file into an Arrow table matching
    `spark_schema` (pure-python codec; shared by the batch and stream
    DSv2 readers). Bytes resolve like _arrow_src: through the SHIPPED
    FileIO when the file lives on the table's store — executor workers
    never see register_io factories, so a custom-scheme table's avro
    files are unreadable there without the pickled instance.

    Columns bind by the table's one rule (binding.source_column): by
    the avro schema's `field-id` annotations when the file is the
    table's own and records them, else by current then former name."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from . import avro_io
    from .avro_data import _converters
    from .fileio import is_uri, resolve_io
    from .types.datatypes import Schema as _IceSchema

    plain = T.StructType([f for f in spark_schema.fields
                          if f.name != "_change_type"])
    arrow_schema = to_arrow_schema(plain)
    decoders = {name: dec for name, _enc, dec
                in _converters(_IceSchema.from_spark(plain))}
    if not is_uri(file_path):
        data = None  # local path: avro_io reads it directly
    elif io is not None and _store_of(file_path) == table_store:
        data = io.read_bytes(file_path)
    else:
        data = resolve_io(file_path).read_bytes(file_path)
    wschema, records = avro_io.read_avro(file_path, data=data)
    afields = (wschema.get("fields", [])
               if isinstance(wschema, dict) else [])
    ids = recorded_ids(table_path, file_path,
                       {f["field-id"]: f["name"] for f in afields
                        if isinstance(f, dict) and "field-id" in f})
    in_file = ({f["name"] for f in afields if isinstance(f, dict)}
               or ({n for n in records[0]} if records else set()))

    cols = {}
    for f in arrow_schema:
        src = source_column(f.name, field_ids.get(f.name), ids, in_file,
                            binding)
        if src is None:
            cols[f.name] = pa.nulls(len(records), type=f.type)
        else:
            cols[f.name] = pa.array(
                [decoders[f.name](rec.get(src)) for rec in records],
                type=f.type)
    return pa.table(cols)


def _store_of(path: str) -> str:
    """scheme://authority — the store identity a FileIO instance is
    scoped to (matches resolve_io's cache key and resolve_path's
    _store): two hdfs:// clusters or two buckets are DIFFERENT stores
    even though they share a scheme."""
    from .fileio import path_scheme

    sch = path_scheme(path)
    if not sch:
        return ""
    rest = path[len(sch) + 3:]
    return f"{sch}://{rest.split('/', 1)[0]}"


def _arrow_src(path: str, table_store: str = "", io=None):
    """A pyarrow-readable source for a recorded file path: local paths
    pass through (pyarrow's native I/O); URI schemes open through
    FileIO — the SHIPPED `io` instance when the path lives on the
    table's STORE (scheme+authority; register_io customs resolve only
    in the planning process, so the pickled FileIO travels with the
    reader), else a fresh resolve (pyarrow-native schemes like s3://
    reconnect in any process — e.g. a same-scheme add_files import on
    another bucket/cluster must NOT ride the table's connection)."""
    from .fileio import is_uri, resolve_io

    if not is_uri(path):
        return path
    if io is not None and _store_of(path) == table_store:
        return io.open_input(path)
    return resolve_io(path).open_input(path)


def _rebind_struct(arr, ice_struct, expected_type):
    """Rebind a struct column's MEMBERS by the file's nested
    PARQUET:field_id metadata (externally-written Iceberg files keep
    physical member names from write time; the id, not the name, is
    the member's identity — in_memory.rs:341-429). Falls back to name
    per member; genuinely-new members pad null. `expected_type` is the
    requested arrow struct type (member names/order from the table
    schema); recursion covers nested structs."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    at = arr.type
    if not pa.types.is_struct(at) or not pa.types.is_struct(expected_type):
        return arr
    id_of: dict[int, int] = {}
    name_of: dict[str, int] = {}
    for i in range(at.num_fields):
        f = at.field(i)
        name_of[f.name] = i
        v = (f.metadata or {}).get(b"PARQUET:field_id")
        if v is not None:
            try:
                id_of[int(v)] = i
            except ValueError:
                pass
    children, names, identical = [], [], at.num_fields == len(ice_struct.fields)
    for pos, nf in enumerate(ice_struct.fields):
        exp_child = expected_type.field(pos).type
        idx = id_of.get(nf.field_id)
        if idx is None:
            idx = name_of.get(nf.name)
        if idx is None:
            child = pa.nulls(len(arr), type=exp_child)
            identical = False
        else:
            child = arr.field(idx)
            if idx != pos or at.field(idx).name != nf.name:
                identical = False
            from .types.datatypes import StructType as _IceStruct

            if isinstance(nf.field_type, _IceStruct):
                rebound = _rebind_struct(child, nf.field_type, exp_child)
                if rebound is not child:
                    identical = False
                child = rebound
            if child.type != exp_child:
                try:
                    child = child.cast(exp_child)
                    identical = False
                except pa.ArrowInvalid:
                    pass
        names.append(nf.name)
        children.append(child)
    if identical:
        return arr
    return pa.StructArray.from_arrays(
        children, names=names,
        mask=arr.is_null() if arr.null_count else None)


class _TableFileReader:
    """The executor-side file work both readers share: the table's
    column binding (field ids, binding.NameBinding, nested member
    types), the shipped FileIO, the format-dispatched data-file read,
    the merge-on-read dead-row mask and the projection to the declared
    schema."""

    def _bind(self, options: dict, spark_schema) -> None:
        from .fileio import is_uri, resolve_io
        from .table import IcebergTable

        self.path = path = options["path"]
        self.spark_schema = spark_schema
        t = IcebergTable.load(path)
        self.table_schema = schema = _read_schema(t, options)
        self.binding = name_binding(t.metadata, schema)
        self.field_ids = {f.name: f.field_id for f in schema.fields}
        # iceberg member types for nested rebinding (picklable dataclasses)
        self.ice_fields = {f.name: f.field_type for f in schema.fields}
        # FileIO shipped to executors for URI-scheme data/delete reads
        # (resolved HERE so register_io customs travel via pickle)
        self.table_store = _store_of(path)
        self.io = resolve_io(path) if is_uri(path) else None

    def _src(self, path: str):
        return _arrow_src(path, self.table_store, self.io)

    def _read_file(self, task):
        """(Arrow table, the ids it binds by) of one data file of any
        format (add_files, write.format.default); an Avro file comes
        back already bound, under the declared names."""
        import pyarrow.parquet as pq

        fmt = (task.file_format or "PARQUET").upper()
        if fmt == "ORC":
            from pyarrow import orc as pa_orc

            return pa_orc.ORCFile(self._src(task.file_path)).read(), {}
        if fmt == "AVRO":
            table = _read_avro_arrow(self.spark_schema, task.file_path,
                                     self.path, self.binding,
                                     self.field_ids, self.table_store,
                                     self.io)
            return table, {self.field_ids[n]: n for n in table.column_names
                           if n in self.field_ids}
        table = pq.read_table(self._src(task.file_path))
        return table, recorded_ids(self.path, task.file_path,
                                   parquet_ids(table.schema))

    def _column(self, table, name: str, ids: dict):
        """Column `name` of a file's Arrow table under the binding
        rule, or None when the file has no such column."""
        src = source_column(name, self.field_ids.get(name), ids,
                            table.column_names, self.binding)
        return None if src is None else table[src]

    def _dead_mask(self, table, task: _FileTask, ids: dict,
                   cache: dict) -> "np.ndarray":
        """Boolean mask of the rows of data file `table` that `task`'s
        deletes kill: its position deletes plus its equality-key hits.
        `cache` holds the delete files this partition already read."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        def cached(path: str, load):
            if path not in cache:
                cache[path] = load(path)
            return cache[path]

        n = table.num_rows
        dead = np.zeros(n, dtype=bool)
        positions = [] if task.positions is None else [task.positions]
        canon = canon_data_path(task.file_path)
        for f in task.pos_files:
            hit = cached(f, lambda p: _positions_by_file(self._src(p))
                         ).get(canon)
            if hit is not None:
                positions.append(hit)
        for ps in positions:
            dead[ps[(ps >= 0) & (ps < n)]] = True

        # equality deletes: key columns of the data AND the delete file
        # bind by the same rule as data columns. A key column missing
        # from a file reads as NULL and must MATCH AS NULL, not narrow
        # the key (which over-deletes).
        def key(t, c, t_ids):
            arr = self._column(t, c, t_ids)
            return arr if arr is not None else pa.nulls(t.num_rows)

        def read_eq(path: str):
            dt = pq.read_table(self._src(path))
            return dt, recorded_ids(self.path, path, parquet_ids(dt.schema))

        for cols, files in task.eq_deletes:
            dels = []
            for f in files:
                dt, d_ids = cached(f, read_eq)
                dels.append([key(dt, c, d_ids) for c in cols])
            dead[_eq_delete_hits([key(table, c, ids) for c in cols],
                                 [list(k) for k in zip(*dels)])] = True
        return dead

    def _project(self, table, ids: dict):
        """Project an Arrow table to exactly the declared schema (the
        streaming runner asserts it): columns bound by the binding rule,
        struct members rebound, uuid/time spec-physical normalization,
        the type-promotion cast; absent columns pad as typed NULLs."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        from .types.datatypes import StructType as _IceStruct

        arrays = []
        for f in self.spark_schema.fields:
            n, ice = f.name, self.ice_fields.get(f.name)
            exp = to_arrow_type(f.dataType)
            arr = self._column(table, n, ids)
            if arr is not None and isinstance(ice, _IceStruct):
                arr = _rebind_struct(arr, ice, exp)
            arr = _spec_physical_to_spark(arr, ice)
            if arr is not None and arr.type != exp and (
                    pa.types.is_integer(exp) or pa.types.is_floating(exp)
                    or pa.types.is_decimal(exp)):
                try:
                    arr = arr.cast(exp)
                except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                    pass
            arrays.append(arr if arr is not None
                          else pa.nulls(table.num_rows, type=exp))
        return pa.Table.from_arrays(
            arrays, names=[f.name for f in self.spark_schema.fields])

    def _read_scan(self, task: _ScanTask) -> Iterator:
        """Each file of `task` in turn, masked and projected, as Arrow
        record batches: a file's batches are yielded before the next
        file is opened, and the task reads each delete file once."""
        cache: dict = {}
        yield from _one_schema(self._live_rows(f, cache) for f in task.files)

    def _live_rows(self, task: _FileTask, cache: dict):
        """The rows of one data file that its deletes leave alive,
        projected to the declared schema."""
        import pyarrow as pa

        table, ids = self._read_file(task)
        dead = self._dead_mask(table, task, ids, cache)
        if dead.any():
            table = table.filter(pa.array(~dead))
        return self._project(table, ids)


class IcelakeReader(_TableFileReader, DataSourceReader):
    def __init__(self, options: dict, schema):
        self.options = options
        self.prune = None  # pruning expression of the pushed filters
        self._bind(options, schema)

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Turn the filters Spark pushes into the scan's pruning
        expression (pruning.from_filters: comparisons, IN, null tests
        and NOT), typed values and all. Every filter is reported back
        as unsupported, so Spark still applies it row by row: pruning
        is an optimization, not an evaluation."""
        from .pruning import from_filters

        filters = list(filters)
        self.prune = from_filters(filters, self.table_schema)
        yield from filters  # unsupported → Spark re-applies (safe)

    def partitions(self) -> list[_ScanTask]:
        from .table import IcebergTable

        t = IcebergTable.load(self.options["path"])
        if "start_snapshot_id" in self.options:
            # incremental append scan (Iceberg's start/end-snapshot-id
            # batch read options): files ADDED in the ancestry window,
            # no MoR delete application (append-only contract —
            # table.incremental parity)
            from .streaming import incremental_files

            end = self.options.get("end_snapshot_id")
            files = incremental_files(
                t, int(self.options["start_snapshot_id"]),
                int(end) if end is not None else None,
                skip_overwrites=_skip_overwrites(self.options))
            return _pack([_FileTask(
                d.data_file.file_path,
                (d.data_file.file_format or "PARQUET").upper(),
                size=d.data_file.file_size_in_bytes) for d in files])
        scan = t.new_scan(filter=self.prune, **_time_travel(self.options))
        data, pos, eq = scan.plan_files()
        plan = plan_deletes(data, pos, eq, scan._read_schema(), t.metadata)
        by_file = _pos_sets(plan, self._src)
        return _pack([_file_task(d, plan, by_file) for d in data])

    def read(self, partition: _ScanTask | None) -> Iterator:
        """Read the task's data files with pyarrow, mask out their MoR
        deletes with Arrow kernels, yield Arrow record batches (Spark
        converts via Arrow). Spark reads one None partition when the
        plan has none: pruning left no file."""
        if partition is not None:
            yield from self._read_scan(partition)


def _time_travel(options: dict) -> dict[str, Any]:
    """The TableScan arguments of the time-travel read options."""
    return {k: options[k] if k == "ref" else int(options[k])
            for k in ("snapshot_id", "as_of_ms", "ref") if k in options}


def _read_schema(table, options: dict):
    """The scan's read schema: a time-travel read's is its snapshot's."""
    return table.new_scan(**_time_travel(options))._read_schema()


def _skip_overwrites(options: dict) -> bool:
    """The `skip_overwrite_snapshots` read option of the append-only
    reads (the incremental batch read and the partition stream)."""
    return options.get("skip_overwrite_snapshots", "false").lower() == "true"


def _pos_sets(plan, src, cache: dict | None = None) -> dict | None:
    """{delete path: {canon data path: positions}} of a plan's position
    deletes, read ONCE on the driver while the set is under
    read.delete.broadcast-threshold-bytes (no task re-reads every
    delete file: N tasks x M files); None over it, when each task reads
    its own. `cache` keeps files already read across plans."""
    if not (plan.pos and plan.pos_broadcast):
        return None
    cache = {} if cache is None else cache
    for p in plan.pos:
        path = p.delete_file.file_path
        if path not in cache:
            cache[path] = _positions_by_file(src(path))
    return cache


def _file_task(d, plan, by_file: dict | None) -> _FileTask:
    """The _FileTask of data task `d` with its deletes from `plan`;
    position deletes become row positions when `by_file` (_pos_sets)
    resolved them."""
    pos_d, eq_d = plan.deletes_for(d)
    path = d.data_file.file_path
    positions = None
    if by_file is not None:
        hits = [by_file[p.delete_file.file_path].get(canon_data_path(path))
                for p in pos_d]
        hits = [h for h in hits if h is not None]
        positions = np.concatenate(hits) if hits else None
    deletes = [*pos_d, *(t for _, ts in eq_d for t in ts)]
    return _FileTask(
        path, (d.data_file.file_format or "PARQUET").upper(),
        positions=positions,
        pos_files=(() if by_file is not None else
                   tuple(p.delete_file.file_path for p in pos_d)),
        eq_deletes=tuple(
            (g.key_cols, tuple(t.delete_file.file_path for t in ts))
            for g, ts in eq_d),
        size=d.data_file.file_size_in_bytes + sum(
            t.delete_file.file_size_in_bytes for t in deletes))


def _positions_by_file(src) -> dict[str, "np.ndarray"]:
    """{canon data path: deleted row positions} of one position-delete
    file, grouped by Arrow — no per-row Python."""
    import pyarrow.parquet as pq

    g = (pq.read_table(src, columns=["file_path", "pos"])
         .group_by("file_path").aggregate([("pos", "list")]))
    if not g.num_rows:
        return {}
    lists = g["pos_list"].combine_chunks()
    values = lists.flatten().to_numpy(zero_copy_only=False)
    offsets = lists.offsets.to_numpy() - lists.offsets[0].as_py()
    out: dict[str, np.ndarray] = {}
    for path, lo, hi in zip(g["file_path"].to_pylist(), offsets[:-1],
                            offsets[1:]):
        k = canon_data_path(path)
        out[k] = (np.concatenate([out[k], values[lo:hi]]) if k in out
                  else values[lo:hi])
    return out


def _eq_delete_hits(data_keys: list, delete_keys: list[list]) -> "np.ndarray":
    """Row indices whose key tuple (`data_keys`, one array per key
    column) equals some delete key tuple (`delete_keys`: per key column,
    one array per delete file), with Spark's eqNullSafe semantics: NULL
    matches NULL, NaN matches NaN, -0.0 matches 0.0.

    Table.join never matches NULL keys, so each key column joins as two
    keys: its value with nulls filled, plus its is_null flag."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def chunks(x) -> list:
        return x.chunks if isinstance(x, pa.ChunkedArray) else [x]

    def spark_eq(x):
        if pa.types.is_floating(x.type):
            x = pc.if_else(pc.equal(x, 0), pa.scalar(0.0, x.type), x)
            x = pc.if_else(pc.is_nan(x), pa.scalar(float("nan"), x.type), x)
        return x

    left = {"__i": pa.array(np.arange(len(data_keys[0])))}
    right = {}
    for j, (a, bs) in enumerate(zip(data_keys, delete_keys)):
        # one type per key column (files written before a type
        # promotion hold the narrower type; absent columns are null)
        typ = pa.unify_schemas(
            [pa.schema([("k", x.type)]) for x in (a, *bs)],
            promote_options="permissive").field("k").type
        a = spark_eq(pa.chunked_array(chunks(a.cast(typ)), type=typ))
        b = spark_eq(pa.chunked_array(
            [c for x in bs for c in chunks(x.cast(typ))], type=typ))
        left[f"n{j}"], right[f"n{j}"] = pc.is_null(a), pc.is_null(b)
        valid = pc.drop_null(pa.chunked_array(a.chunks + b.chunks, type=typ))
        if len(valid):
            left[f"k{j}"] = pc.fill_null(a, valid[0])
            right[f"k{j}"] = pc.fill_null(b, valid[0])
    hits = pa.table(left).join(pa.table(right), keys=list(right),
                               join_type="left semi")
    return hits["__i"].to_numpy()


def _spec_physical_to_spark(arr, ice_type):
    """Normalize the two Iceberg spec physical types Spark has no
    native type for — written by the arrow writer lane
    (write.py:write_parquet_arrow) — back to the Spark-side convention
    the rest of the engine uses: uuid fixed[16] → canonical-hex string,
    time64[µs] → int64 µs. Gated on the table's declared Iceberg type
    (a fixed[16] BINARY column must stay raw bytes); everything else
    passes through untouched."""
    import uuid as _uuidlib

    import pyarrow as pa

    if arr is None:
        return None
    name = getattr(ice_type, "name", None)
    t = arr.type
    if name == "uuid" and pa.types.is_fixed_size_binary(t) \
            and t.byte_width == 16:
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        return pa.array(
            [None if v is None else str(_uuidlib.UUID(bytes=v))
             for v in arr.to_pylist()], type=pa.string())
    if name == "time" and pa.types.is_time(t):
        return arr.cast(pa.int64())
    return arr


def _stream_offset_of(table, s) -> int:
    """Monotone offset for a snapshot: sequence number on format v2;
    commit timestamp on v1 (every v1 snapshot has seq 0, so seq offsets
    would never advance and the stream would sit empty forever)."""
    if table.metadata.format_version >= 2:
        return s.sequence_number
    return s.timestamp_ms


def _stream_end_offset(table) -> int:
    """Max offset over MAIN-ANCESTRY snapshots only — the global
    last_sequence_number also counts WAP branch-staged commits, so using
    it would advance the offset past an unpublished snapshot and
    permanently skip its rows once fast_forward publishes it."""
    main_ids = table.metadata.ancestry_ids()
    return max((_stream_offset_of(table, s)
                for s in table.metadata.snapshots
                if s.snapshot_id in main_ids), default=0)


def _stream_snapshots(table, start: float, end: float,
                      skip_overwrites: bool) -> list:
    """Main-ancestry snapshots with stream offset in (start, end], in
    sequence order, that contribute files by the append-only reads' one
    per-snapshot rule (streaming.append_snapshots: an overwrite in the
    range raises unless `skip_overwrites`)."""
    from .streaming import append_snapshots

    main_ids = table.metadata.ancestry_ids()
    return append_snapshots(
        [s for s in sorted(table.metadata.snapshots,
                           key=lambda s: s.sequence_number)
         # a WAP branch-staged snapshot is not published
         if s.snapshot_id in main_ids
         and start < _stream_offset_of(table, s) <= end], skip_overwrites)


def _stream_files_between(table, start_seq: int, end_seq: int,
                          skip_overwrites: bool) -> list[tuple[str, str, int]]:
    """(path, format, bytes) of data files ADDED by the contributing
    snapshots in (start_seq, end_seq] — the deterministic replay set
    the plain stream derives micro-batches from."""
    from .changelog import _added_in

    return [(t.data_file.file_path,
             (t.data_file.file_format or "PARQUET").upper(),
             t.data_file.file_size_in_bytes)
            for s in _stream_snapshots(table, start_seq, end_seq,
                                       skip_overwrites)
            for t in _added_in(table, s)[0]]


def _append_offsets(table) -> list[int]:
    """Sorted DISTINCT stream offsets of the snapshots that contribute
    files to the partition stream. Deduped because v1 offsets are commit
    timestamps: two appends in the same millisecond share an offset,
    and _stream_snapshot_files(off) already returns their combined
    file list — a duplicate offset would emit (and budget) every one
    of those files twice."""
    return sorted({_stream_offset_of(table, s) for s in
                   _stream_snapshots(table, -1, float("inf"), True)})


def _stream_snapshot_files(table, seq: int, cache: dict | None = None,
                           ) -> list[tuple[str, str, int]]:
    """Path-SORTED (path, format, bytes) files added by the snapshot at
    stream offset `seq`. The sort makes the file-granular offset
    coordinate ({"seq": s, "files": k} = first k files of the next
    append snapshot) deterministic across triggers and restarts. `cache`
    (reader-held, keyed by offset) avoids re-reading a pending
    snapshot's manifests on every trigger — snapshots are immutable,
    so entries never invalidate."""
    if cache is not None and seq in cache:
        return cache[seq]
    files = sorted(_stream_files_between(table, seq - 1, seq, True))
    if cache is not None:
        cache[seq] = files
    return files


def _stream_files_range(table, s1: int, k1: int, s2: int, k2: int,
                        cache: dict | None = None,
                        skip_overwrites: bool = False,
                        ) -> list[tuple[str, str, int]]:
    """Files between composite offsets (s1, k1) and (s2, k2]: offset
    (s, k) means every snapshot with offset <= s is fully emitted plus
    the first k path-sorted files of the NEXT append snapshot after s
    (k = 0 degenerates to the original snapshot-granular offset)."""
    apps = _append_offsets(table)
    t1 = next((o for o in apps if o > s1), None)
    out: list[tuple[str, str, int]] = []
    for t in sorted({_stream_offset_of(table, x) for x in
                     _stream_snapshots(table, s1, s2, skip_overwrites)}):
        fl = _stream_snapshot_files(table, t, cache)
        out.extend(fl[k1 if (k1 and t == t1) else 0:])
    if k2:
        t_end = next((o for o in apps if o > s2), None)
        if t_end is not None:
            fl = _stream_snapshot_files(table, t_end, cache)
            out.extend(fl[k1 if (k1 and t_end == t1) else 0:k2])
    return out


def _plan_changelog_tasks(table, start_off: int, end_off: int,
                          src) -> list:
    """Driver-side changelog planning with STRICTLY LINEAR manifest
    I/O: one walk over the main ancestry reads each manifest list and
    each added-by manifest EXACTLY ONCE, maintaining the alive-data-
    file map incrementally (alive(s) = alive(parent) + ADDED − DELETED;
    EXISTING entries from manifest rewrites are no-ops) and the delete
    files of every walked snapshot. Every decodable in-range snapshot
    becomes one _ChangeSnapshotTask of _FileTasks whose deletes come
    from planning.plan_deletes, so executor tasks perform ZERO manifest
    reads and mask rows exactly as the batch DataSource does."""
    from .table import DeleteFileTask, FileScanTask
    from .types.manifest import (STATUS_ADDED, STATUS_DELETED,
                                 read_manifest, read_manifest_list)

    out = []
    main_ids = table.metadata.ancestry_ids()
    schema, md = table.schema(), table.metadata
    prior_pos: list = []   # DeleteFileTasks of every earlier walked
    prior_eq: list = []    # snapshot, in or before the window
    alive: dict[str, FileScanTask] = {}  # canon path → alive data file
    positions: dict = {}   # position-delete file → its resolved rows

    def snapshot_task(snapshot_id: int, added: list, pos: list,
                      eq: list) -> _ChangeSnapshotTask:
        """Each added file masked by its own commit's deletes (equality
        deletes gate out at the same sequence number), and each older
        file this snapshot's deletes touch, paired with the deletes of
        every earlier walked snapshot."""
        older = list(alive.values()) if pos or eq else []
        plan = plan_deletes(added + older, pos, eq, schema, md)
        by_file = _pos_sets(plan, src, positions)
        touched = [(d, ft) for d in older
                   if (ft := _file_task(d, plan, by_file)).has_deletes]
        deletes = ()
        if touched:
            prior = plan_deletes([d for d, _ in touched], prior_pos,
                                 prior_eq, schema, md)
            prior_by_file = _pos_sets(prior, src, positions)
            deletes = tuple((_file_task(d, prior, prior_by_file), ft)
                            for d, ft in touched)
        return _ChangeSnapshotTask(
            snapshot_id,
            tuple(_file_task(d, plan, by_file) for d in added), deletes)

    first_walked = True
    # sort by the STREAM offset (seq on v2, commit timestamp on v1
    # where every seq is 0): the early break below is only safe when
    # the walk order is the offset order
    for snap in sorted(table.metadata.snapshots,
                       key=lambda x: (_stream_offset_of(table, x),
                                      x.sequence_number)):
        if snap.snapshot_id not in main_ids:
            continue
        off = _stream_offset_of(table, snap)
        if off > end_off:
            break  # later snapshots cannot affect this window
        summary = snap.summary or {}
        decodable = not (
            summary.get("operation", "append") == "replace"
            or int(summary.get("deleted-data-files", 0) or 0) > 0)
        added, added_pos, added_eq, updates = [], [], [], []
        for mle in read_manifest_list(table._resolve(snap.manifest_list)):
            foreign = mle.added_snapshot_id != snap.snapshot_id
            if foreign and not first_walked:
                continue  # carried forward unchanged: no alive change
            # the FIRST retained snapshot seeds `alive` and the prior
            # deletes from its FULL manifest list: files added by since-
            # EXPIRED snapshots survive only via carried-forward
            # manifests whose added_snapshot_id is no longer in
            # metadata.snapshots — skipping them would drop their rows'
            # delete events
            _, entries = read_manifest(table._resolve(mle.manifest_path),
                                       mle)
            for e in entries:
                seq = e.sequence_number
                df = e.data_file
                df.file_path = table._resolve(df.file_path)
                if foreign:  # predates this snapshot: alive BEFORE it
                    if not e.is_alive:
                        continue
                    if df.content == 0:
                        alive[canon_data_path(df.file_path)] = \
                            FileScanTask(df, seq, mle.partition_spec_id)
                    else:
                        (prior_pos if df.content == 1 else prior_eq) \
                            .append(DeleteFileTask(df, seq))
                elif df.content == 0:
                    task = FileScanTask(df, seq, mle.partition_spec_id)
                    updates.append((e.status, task))
                    if e.status == STATUS_ADDED:
                        added.append(task)
                elif e.status == STATUS_ADDED:
                    (added_pos if df.content == 1 else added_eq).append(
                        DeleteFileTask(df, seq))
        first_walked = False
        if decodable and start_off < off <= end_off:
            out.append(snapshot_task(snap.snapshot_id, added, added_pos,
                                     added_eq))
        # deletes accumulate over EVERY walked snapshot, not just in-
        # range ones: a row an earlier micro-batch's delete killed must
        # not re-emit a delete event when a later snapshot's delete hits
        # it again, or batch boundaries change the changelog (phantom
        # duplicate delete events vs the batch changes() API, which
        # always folds the parent's full delete set — code-review r8)
        prior_pos.extend(added_pos)
        prior_eq.extend(added_eq)
        for status, task in updates:
            c = canon_data_path(task.data_file.file_path)
            if status == STATUS_DELETED:
                alive.pop(c, None)
            else:  # ADDED or EXISTING (rewrite): (re)record identically
                alive[c] = task
    return out


@dataclass
class _ChangeSnapshotTask(InputPartition):
    """One changelog micro-batch slice: ONE snapshot's CDC events,
    decoded on an executor from the _FileTasks _plan_changelog_tasks
    ships — zero manifest I/O, and only the data/delete FILES it
    masks are read."""
    snapshot_id: int
    inserts: tuple = ()  # _FileTask per added data file
    # (earlier deletes, this snapshot's deletes) _FileTasks of one
    # older data file
    deletes: tuple = ()


class IcelakePartitionStreamReader(_TableFileReader, DataSourceStreamReader):
    """`spark.readStream.format("icelake")` — the partition-based
    micro-batch source. Offsets are table sequence numbers (commit
    timestamps on v1); each micro-batch is the set of data files ADDED
    by append snapshots in (start_seq, end_seq], packed into scan tasks
    like the batch read (_pack), read on EXECUTORS as Arrow batches.
    Exactly-once comes from deterministic replay: partitions(start, end)
    re-derives the same file list from the same immutable snapshot
    range. With option("changelog", "true") each micro-batch is one
    partition per snapshot: _plan_changelog_tasks gives each of its
    files the deletes of planning.plan_deletes, and the executor masks
    them with the batch reader's Arrow mask (_dead_mask) — an insert is
    an added row its own commit does not delete, a delete an older row
    this snapshot's deletes kill and no earlier delete did.

    It is the only stream reader: nothing is materialized on the
    driver, so a large append snapshot cannot OOM it. Parity: Iceberg's
    Spark streaming source semantics over the reference's snapshot
    model (table.rs:281-304)."""

    def __init__(self, options: dict, schema):
        self.options = options
        # the same column identity and shipped FileIO as the batch
        # reader (a struct member renamed in an externally-written file
        # must bind by its nested field id in the STREAM too)
        self._bind(options, schema)
        # rate limit (Iceberg's max-files-per-micro-batch analogue at
        # snapshot granularity): each trigger advances the offset by at
        # most N sequence numbers, so a backlogged stream catches up in
        # bounded micro-batches instead of one giant one
        self._rate = int(options.get("max_snapshots_per_trigger", 0))
        # file-granular admission (Iceberg's
        # streaming-max-files-per-micro-batch analogue): each trigger
        # emits at most N data FILES, splitting inside a snapshot via
        # composite offsets {"seq": s, "files": k} (first k path-sorted
        # files of the next append snapshot after s). Ignored in
        # changelog mode, where the batch unit is a whole snapshot.
        self._max_files = int(options.get("max_files_per_trigger", 0))
        self._floor = None  # highest start offset observed (checkpoint)
        self._sf_cache: dict = {}  # offset -> sorted snapshot file list
        # highest batch START Spark has ever handed to partitions():
        # a batch start equals the previous batch's logged end, so every
        # sequence number at or below it was already planned (and, on a
        # clean restart, committed) by an earlier batch. Used to refuse
        # RE-planning those rows when a restart briefly regresses the
        # capped offset below the checkpoint (ADVICE r7 medium).
        self._planned = None

    def _table(self):
        from .table import IcebergTable

        return IcebergTable.load(self.path)

    @property
    def _file_rate(self) -> int:
        return 0 if self._changelog else self._max_files

    def initialOffset(self) -> dict:  # noqa: N802
        return {"seq": int(self.options.get("starting_sequence_number", 0))}

    def latestOffset(self) -> dict:  # noqa: N802
        table = self._table()
        end = _stream_end_offset(table)
        if self._rate <= 0 and self._file_rate <= 0:
            return {"seq": end}
        base = self._floor
        if base is None:
            base = (int(self.options.get("starting_sequence_number", 0)), 0)
        end_seq = end
        if self._rate > 0:
            # cap at the Nth next APPEND snapshot's offset — counting
            # actual snapshots, not adding N to the offset VALUE:
            # format-v1 offsets are epoch-millisecond timestamps, where
            # base+N would advance N milliseconds per trigger and never
            # reach the data (code-review r8)
            apps = [o for o in _append_offsets(table)
                    if base[0] < o <= end]
            end_seq = apps[self._rate - 1] if len(apps) > self._rate \
                else end
        if self._file_rate > 0:
            off = self._walk_file_cap(table, base, end_seq)
        else:
            off = (max(base[0], end_seq), 0)
        self._floor = max(base, off)
        s, k = self._floor
        return {"seq": s, "files": k} if self._file_rate > 0 else {"seq": s}

    def _walk_file_cap(self, table, base: tuple, end_seq: int) -> tuple:
        """Advance from composite offset `base` by at most
        max_files_per_trigger data files, never past snapshot offset
        `end_seq`; returns the new composite offset."""
        s0, k0 = base
        budget = self._file_rate
        k = k0
        for t in _append_offsets(table):
            if not (s0 < t <= end_seq):
                continue
            n = len(_stream_snapshot_files(table, t, self._sf_cache))
            take = max(0, n - k)
            if take > budget:
                return (t - 1, k + budget)
            budget -= take
            k = 0
        return (max(s0, end_seq), 0)

    @property
    def _changelog(self) -> bool:
        return self.options.get("changelog", "").lower() in ("true", "1")

    def partitions(self, start: dict, end: dict):  # driver-side planning
        # composite offsets (seq, files) compare lexicographically;
        # plain {"seq": N} checkpoints read as (N, 0) — back-compatible
        s = (int(start["seq"]), int(start.get("files", 0)))
        e = (int(end["seq"]), int(end.get("files", 0)))
        if self._rate > 0 or self._file_rate > 0:
            # learn the true (checkpointed) start so the rate cap in
            # latestOffset advances from reality after a restart
            self._floor = max(self._floor or (0, 0), s, e)
        # Restart duplicate guard (ADVICE r7 medium): after a restart
        # the first capped latestOffset may regress BELOW the
        # checkpointed start (it caps from starting_sequence_number —
        # the committed offset is unknown until this call). Spark logs
        # the regressed end, so the NEXT batch's start sits below what
        # earlier batches already delivered. Batch starts are monotonic
        # in normal operation, so planning only above the highest start
        # ever seen suppresses exactly the replayed span and nothing
        # else; WAL replay of an uncommitted batch re-runs in full
        # because a fresh reader starts with _planned = None.
        if self._planned is not None and s < self._planned:
            s = self._planned
        self._planned = max(self._planned or (0, 0), s)
        if e <= s:
            return []
        table = self._table()
        if self._changelog:
            # one task per DECODABLE snapshot in range; ONE linear walk
            # on the driver reads each manifest exactly once and ships
            # complete task payloads (see _plan_changelog_tasks)
            return _plan_changelog_tasks(table, s[0], e[0], self._src)
        if s[1] or e[1]:
            files = _stream_files_range(table, s[0], s[1], e[0], e[1],
                                        self._sf_cache,
                                        _skip_overwrites(self.options))
        else:  # snapshot-aligned: one linear manifest walk
            files = _stream_files_between(table, s[0], e[0],
                                          _skip_overwrites(self.options))
        # evict fully-drained snapshots so the cache stays bounded by
        # the pending backlog, not the table's history
        self._sf_cache = {q: v for q, v in self._sf_cache.items()
                          if q > s[0]}
        return _pack([_FileTask(path, fmt, size=size)
                      for path, fmt, size in files])

    def read(self, partition):  # executor-side
        if isinstance(partition, _ChangeSnapshotTask):
            yield from _one_schema(self._changes(partition))
            return
        yield from self._read_scan(partition)

    def _changes(self, task: _ChangeSnapshotTask) -> Iterator:
        """One snapshot's CDC events as Arrow tables, one per file: one
        dead-row mask per file and delete side, so a row that a position
        AND an equality delete of the same commit both hit is emitted
        once."""
        import pyarrow as pa

        cache: dict = {}
        for kind, prior, this in (
                [("insert", None, t) for t in task.inserts]
                + [("delete", p, t) for p, t in task.deletes]):
            table, ids = self._read_file(this)
            dead = self._dead_mask(table, this, ids, cache)
            rows = ~dead if prior is None else \
                dead & ~self._dead_mask(table, prior, ids, cache)
            if not rows.any():
                continue
            out = self._project(table.filter(pa.array(rows)), ids)
            i = out.schema.get_field_index("_change_type")
            yield out.set_column(i, "_change_type",
                                 pa.repeat(pa.scalar(kind), out.num_rows))

    def commit(self, end: dict) -> None:
        pass


@dataclass
class _WrittenFile(WriterCommitMessage):
    # one task may write several files (one per partition value)
    files: list  # of (path, rows)


PROP_LAST_BATCH = "streaming.last-committed-batch-id"


def _arrow_tables(items, spark_schema) -> Iterator:
    """A sink task's input as Arrow tables: Spark hands the Arrow writer
    record batches; a direct caller may pass rows (tuples or Rows in
    `spark_schema` order), which become one table, built column-wise."""
    import itertools

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    items = iter(items)
    first = next(items, None)
    if first is None:
        return
    if isinstance(first, pa.RecordBatch):
        yield from (pa.Table.from_batches([b])
                    for b in itertools.chain([first], items))
        return
    schema = to_arrow_schema(spark_schema)
    cols = zip(*itertools.chain([first], items))
    yield pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema)


class IcelakeStreamWriter(DataSourceStreamArrowWriter):
    """`df.writeStream.format("icelake")`: transactional Iceberg sink,
    a lane of the writer tree (write.py).

    Each executor task adds its batches' partition layout columns and
    hands them to the Arrow lane's task writer (write._write_arrow_files):
    one parquet file per hive bucket, PARQUET:field_id at every nesting
    level, staged under the query's data/stream-<uuid> dir and reported
    as a commit message. The driver's commit() registers the epoch's
    files through the writer tree's one tail (footer stats included)
    and appends them in ONE snapshot per epoch. Exactly-once: the
    committed batch id is recorded in the table properties in the same
    metadata swap, and a replayed epoch with batchId <= the recorded one
    is dropped on the floor; abort() deletes the staged files."""

    def __init__(self, options: dict, schema):
        import uuid

        from .fileio import io_join, resolve_io
        from .table import IcebergTable
        from .types.datatypes import schema_to_arrow_with_ids
        from .write import _PART_PREFIX, _layout_types

        self.options = options
        self.spark_schema = schema
        self.path = options["path"]
        # FileIO resolved at plan time and SHIPPED to executors (the
        # same discipline as the readers): a table on a registered
        # custom scheme or object store stages its files through it
        self.io = resolve_io(self.path)
        # holds every epoch's files of this query, committed or not
        self.stage = io_join(self.path, "data", f"stream-{uuid.uuid4()}")
        # the table's schema and spec are captured ON THE DRIVER (this
        # object ships pickled to executors): each task writes one
        # hive-dir file per partition — a single partitionless file
        # would be silently pruned out of every partition-filtered scan
        t = IcebergTable.load(self.path)
        tschema = t.schema()
        spec = t.metadata.default_spec()
        self.part_info = []
        for pf in spec.fields:
            src = tschema.field_by_id(pf.source_column_id)
            self.part_info.append((_PART_PREFIX + pf.name, pf.transform,
                                   src.name, src.field_type))
        self.layout = _layout_types(spec, tschema)
        self.file_schema = schema_to_arrow_with_ids(tschema)

    def write(self, iterator) -> _WrittenFile:
        from .write import _write_arrow_files

        tables = map(self._with_layout,
                     _arrow_tables(iterator, self.spark_schema))
        return _WrittenFile(files=_write_arrow_files(
            tables, self.stage, self.file_schema,
            [c for c, *_ in self.part_info], 0, "snappy", self.io))

    def _with_layout(self, tbl):
        """`tbl` plus one layout column per partition field: the
        transform of each DISTINCT source value, escaped like the batch
        writer's layout columns (write._esc_empty), taken back onto the
        rows."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from .types.transforms import apply_transform_py
        from .write import _esc_empty

        for name, tr, src, st in self.part_info:
            col = tbl.column(src).combine_chunks()
            uniq = pc.unique(col)
            vals = pa.array([_esc_empty(apply_transform_py(tr, v, st))
                             for v in uniq.to_pylist()])
            tbl = tbl.append_column(name, vals.take(
                pc.index_in(col, value_set=uniq, skip_nulls=False)))
        return tbl

    @property
    def _batch_prop(self) -> str:
        """Per-QUERY exactly-once scope: keyed by the checkpoint
        location, so a restart from a fresh checkpoint (batchIds reset
        to 0) or a second query into the same table is not silently
        discarded by another query's recorded batch id (code-review
        r8; Iceberg's sink scopes by queryId the same way)."""
        ck = (self.options.get("checkpointLocation")
              or self.options.get("checkpointlocation"))
        if not ck:
            return PROP_LAST_BATCH
        import hashlib as _hl

        return f"{PROP_LAST_BATCH}.{_hl.md5(ck.encode()).hexdigest()[:8]}"

    def commit(self, messages, batchId) -> None:  # noqa: N802
        from .table import IcebergTable
        from .transaction import Transaction
        from .write import _register_files

        t = IcebergTable.load(self.path)
        last = int(t.metadata.properties.get(self._batch_prop, -1))
        paths = [p for m in messages if m is not None
                 for (p, n) in m.files if n > 0]
        if batchId <= last or not paths:
            for p in paths:  # replayed epoch: staged output is discarded
                self.io.delete_quiet(p)
            return
        tx = Transaction(t)
        # the stage also holds earlier epochs' committed files: never
        # removed here (own_stage=False)
        tx.add_data_files(_register_files(self.io, self.stage, t.schema(),
                                          self.layout, paths=paths,
                                          own_stage=False))
        # record the epoch IN the same commit so replay-after-crash
        # cannot double-append; via Transaction.set_properties so a
        # conflict-retry (which refreshes the table, discarding any
        # direct metadata mutation) still carries the batch id
        tx.set_properties({self._batch_prop: str(batchId)})
        tx.commit("append")

    def abort(self, messages, batchId) -> None:  # noqa: N802
        for m in messages:
            if m is None:
                continue
            for (p, _n) in m.files:
                self.io.delete_quiet(p)


def register(spark) -> None:
    # pushFilters requires this conf (defaults false in Spark 4.1)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # the table's own files bind by field id in Spark's reader too
    # (binding.py; TableScan.read_mapped)
    from .binding import FIELD_ID_READ

    spark.conf.set(FIELD_ID_READ, "true")
    from . import fileio

    if fileio._REGISTRY:
        # Spark instantiates Python data sources in a FRESH planner
        # worker where register_io registrations don't exist; snapshot
        # the current registry into the registered class — cloudpickle
        # ships it (factories may close over picklable FileIO
        # instances) and __init__ reinstalls it worker-side, so a
        # mock://-style table loads its metadata anywhere
        snapshot = dict(fileio._REGISTRY)

        class _RegisteredIcelake(IcelakeDataSource):
            _io_registry = snapshot

        spark.dataSource.register(_RegisteredIcelake)
        return
    spark.dataSource.register(IcelakeDataSource)
