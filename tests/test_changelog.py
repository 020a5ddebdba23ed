"""Changelog (CDC read) semantics: insert/delete reconstruction across
append, MoR delete, upsert, CoW delete, and compaction snapshots."""

import pytest
from pyspark.sql import functions as F

from icelake_spark.catalog import StorageCatalog
from icelake_spark.types import Schema


def _now_plus() -> int:
    import time

    return int(time.time() * 1000) + 1000


@pytest.fixture()
def warehouse(tmp_path):
    return StorageCatalog(str(tmp_path))


def _rows(df):
    return sorted((r.id, r.v, r._change_type, r._commit_order)
                  for r in df.collect())


def test_changelog_append_mor_delete_upsert(spark, warehouse):
    src = spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                                "id long, v string")
    t = warehouse.create_table("db.cl", Schema.from_spark(src.schema))
    t.append(src)
    t.delete_where(spark, "id < 3")
    up = spark.createDataFrame([(5, "NEW5"), (100, "v100")],
                               "id long, v string")
    t.upsert(up, key_cols=["id"])

    got = _rows(t.changes(spark))
    want = sorted(
        [(i, f"v{i}", "insert", 0) for i in range(10)]
        + [(i, f"v{i}", "delete", 1) for i in range(3)]
        + [(5, "v5", "delete", 2), (5, "NEW5", "insert", 2),
           (100, "v100", "insert", 2)])
    assert got == want


def test_changelog_incremental_window_and_replace_skip(spark, warehouse):
    src = spark.createDataFrame([(i, f"v{i}") for i in range(6)],
                                "id long, v string")
    t = warehouse.create_table("db.cl2", Schema.from_spark(src.schema))
    t.append(src)
    snap1 = t.current_snapshot().snapshot_id
    t.delete_where(spark, "id = 0")
    from icelake_spark.maintenance import rewrite_data_files
    rewrite_data_files(t, spark)  # replace snapshot: no logical change
    t.append(spark.createDataFrame([(50, "v50")], "id long, v string"))

    got = _rows(t.changes(spark, from_snapshot_id=snap1))
    # only the delete and the post-compaction append; compaction silent
    assert got == [(0, "v0", "delete", 0), (50, "v50", "insert", 1)]


def test_changelog_cow_delete_single_file_net_change(spark, warehouse):
    src = spark.createDataFrame([(i, f"v{i}") for i in range(8)],
                                "id long, v string").coalesce(1)
    t = warehouse.create_table(
        "db.cl3", Schema.from_spark(src.schema),
        properties={"write.delete.mode": "copy-on-write"})
    t.append(src)  # ONE data file
    t.delete_where(spark, "id >= 6")  # CoW rewrites that file

    ch = [r for r in t.changes(spark).collect() if r._commit_order == 1]
    dels = sorted(r.id for r in ch if r._change_type == "delete")
    ins = sorted(r.id for r in ch if r._change_type == "insert")
    # net change: the whole old file deleted, survivors re-inserted
    assert dels == list(range(8))
    assert ins == list(range(6))


def test_changelog_cow_delete_multi_file_is_minimal(spark, warehouse):
    src = spark.createDataFrame([(i, f"v{i}") for i in range(8)],
                                "id long, v string")  # one file per row
    t = warehouse.create_table(
        "db.cl4", Schema.from_spark(src.schema),
        properties={"write.delete.mode": "copy-on-write"})
    t.append(src)
    t.delete_where(spark, "id >= 6")  # only the 2 hit files rewritten

    ch = [r for r in t.changes(spark).collect() if r._commit_order == 1]
    dels = sorted(r.id for r in ch if r._change_type == "delete")
    ins = sorted(r.id for r in ch if r._change_type == "insert")
    # untouched files never enter the changelog; fully-deleted files
    # leave no survivors to re-insert
    assert dels == [6, 7]
    assert ins == []


def test_apply_changes_replicates_source(spark, warehouse):
    from icelake_spark.changelog import apply_changes

    src_df = spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                                   "id long, v string")
    s = warehouse.create_table("db.src", Schema.from_spark(src_df.schema))
    tgt = warehouse.create_table("db.tgt", Schema.from_spark(src_df.schema))
    s.append(src_df)
    s.delete_where(spark, "id < 2")

    n = apply_changes(s, tgt, spark, key_cols=["id"])
    assert n == 12  # 10 inserts + 2 deletes
    assert sorted(map(tuple, tgt.to_df(spark).collect())) == \
        sorted(map(tuple, s.to_df(spark).collect()))

    # incremental: only the new commit ships; no-op afterwards
    s.upsert(spark.createDataFrame([(5, "NEW"), (77, "v77")],
                                   "id long, v string"), key_cols=["id"])
    n2 = apply_changes(s, tgt, spark, key_cols=["id"])
    assert n2 == 3  # delete old 5 + insert NEW + insert 77
    assert sorted(map(tuple, tgt.to_df(spark).collect())) == \
        sorted(map(tuple, s.to_df(spark).collect()))
    assert apply_changes(s, tgt, spark, key_cols=["id"]) == 0


def test_changelog_after_rename_resolves_old_files(spark, warehouse):
    src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t = warehouse.create_table("db.clren", Schema.from_spark(src.schema))
    t.append(src)
    t.rename_column("v", "val")
    t.delete_where(spark, "id = 1")
    got = sorted((r.id, r.val, r._change_type)
                 for r in t.changes(spark).collect())
    # pre-rename file contents bind to the renamed column
    assert got == [(1, "a", "delete"), (1, "a", "insert"),
                   (2, "b", "insert")]


def test_merge_into_semantics(spark, warehouse):
    from icelake_spark.delta import merge

    src0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "id long, v string, qty long")
    t = warehouse.create_table("db.mrg", Schema.from_spark(src0.schema))
    t.append(src0)

    incoming = spark.createDataFrame(
        [(2, "B2", 99), (3, "C2", 5), (4, "d", 40)],
        "id long, v string, qty long")
    # update matched rows only when qty > 10; insert unmatched
    merge(t, spark, incoming, on=["id"],
          when_matched="update", matched_condition="qty > 10",
          when_not_matched="insert")
    got = sorted(map(tuple, t.to_df(spark).collect()))
    assert got == [(1, "a", 10), (2, "B2", 99), (3, "c", 30), (4, "d", 40)]

    # matched-delete mode removes keys present in the source
    merge(t, spark, incoming.where("id = 2"), on=["id"],
          when_matched="delete", when_not_matched=None)
    got = sorted(r.id for r in t.to_df(spark).collect())
    assert got == [1, 3, 4]


def test_changelog_skips_rolled_back_snapshots(spark, warehouse):
    """A rolled-back commit stays in metadata.snapshots (time travel)
    but is NOT in the current head's ancestry — the changelog must not
    replicate its rows (review r3)."""
    from icelake_spark.changelog import changes
    from icelake_spark.maintenance import rollback_to
    from icelake_spark.table import IcebergTable
    from icelake_spark.types import Schema

    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    t = warehouse.create_table("db.cl_rb", Schema.from_spark(df1.schema))
    t.append(df1)
    s1 = t.refresh().current_snapshot().snapshot_id
    t.append(spark.createDataFrame([(2, "phantom")], "id long, v string"))
    t = t.refresh()
    rollback_to(t, s1)
    t = IcebergTable.load(t.path)
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    t = t.refresh()
    ch = changes(t, spark).collect()
    vals = sorted(r.v for r in ch)
    assert vals == ["a", "c"]  # the rolled-back 'phantom' row is absent


def test_changelog_survives_expired_parent(spark, warehouse):
    """After expire_snapshots removes the oldest history, changes() must
    still work from the retained boundary instead of raising KeyError on
    the expired parent (review r3)."""
    from icelake_spark.changelog import changes
    from icelake_spark.maintenance import expire_snapshots
    from icelake_spark.table import IcebergTable
    from icelake_spark.types import Schema

    df1 = spark.createDataFrame([(i, "x") for i in range(5)], "id long, v string")
    t = warehouse.create_table("db.cl_exp", Schema.from_spark(df1.schema))
    t.append(df1)
    t = t.refresh()
    t.delete_where(spark, "id >= 3")  # snapshot 2: MoR delete
    t = t.refresh()
    expire_snapshots(t, older_than_ms=_now_plus(), retain_last=1)
    t = IcebergTable.load(t.path)
    assert len(t.metadata.snapshots) == 1
    ch = changes(t, spark)  # must not raise
    # the delete against expired history is unreconstructable; no crash
    assert ch.count() >= 0


def test_apply_changes_full_resync_after_expired_sync_point(spark, warehouse):
    """If the recorded sync snapshot was expired from the source, the
    replication must full-resync (upsert current + delete vanished keys)
    instead of wedging on KeyError forever (review r3)."""
    from icelake_spark.changelog import apply_changes
    from icelake_spark.maintenance import expire_snapshots
    from icelake_spark.table import IcebergTable
    from icelake_spark.types import Schema

    src_df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    src = warehouse.create_table("db.cdc_src2", Schema.from_spark(src_df.schema))
    tgt = warehouse.create_table("db.cdc_tgt2", Schema.from_spark(src_df.schema))
    src.append(src_df)
    src = src.refresh()
    apply_changes(src, tgt, spark, key_cols=["id"])
    tgt = IcebergTable.load(tgt.path)
    assert sorted(r.id for r in tgt.to_df(spark).collect()) == [1, 2]

    # source evolves: delete id=1, add id=3; then its history is expired
    src.delete_where(spark, "id = 1")
    src = src.refresh()
    src.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    src = src.refresh()
    expire_snapshots(src, older_than_ms=_now_plus(), retain_last=1)
    src = IcebergTable.load(src.path)
    n = apply_changes(src, tgt, spark, key_cols=["id"])
    assert n > 0
    tgt = IcebergTable.load(tgt.path)
    assert sorted(r.id for r in tgt.to_df(spark).collect()) == [2, 3]


def test_changelog_stream_manifest_io_linear_in_window(spark, tmp_path,
                                                        arrow_rows):
    """A 10-snapshot changelog window must plan with LINEAR manifest
    I/O: the driver's partitions() walks the history once shipping
    prior delete-file lists, so no .avro manifest is re-read per task
    (the old per-task re-walk read early delete manifests ~N times).
    Rows must equal the batch changes() decoder exactly."""
    import pyspark.sql.types as T

    from icelake_spark.datasource import IcelakePartitionStreamReader
    from icelake_spark.fileio import (
        LocalFileIO,
        register_io,
        unregister_io,
    )

    class CountingFileIO(LocalFileIO):
        def __init__(self, root):
            self.root = root
            self.reads = {}

        def _p(self, path):
            assert path.startswith("cnt://"), f"os-path leaked: {path}"
            return os.path.join(self.root, path[len("cnt://"):])

        def _m(self, local):
            return "cnt://" + os.path.relpath(local, self.root)

        def read_bytes(self, path):
            self.reads[path] = self.reads.get(path, 0) + 1
            return LocalFileIO.read_bytes(self, path)

        def list_files(self, prefix):
            out = []
            for root_, _d, names in os.walk(self._p(prefix)):
                for n in names:
                    p = os.path.join(root_, n)
                    try:
                        out.append((self._m(p), os.path.getsize(p)))
                    except OSError:
                        pass
            return out

        def to_spark_path(self, path):
            return self._p(path)

    import os

    io = CountingFileIO(str(tmp_path / "cntfs"))
    register_io("cnt", lambda path: io)
    try:
        cat = StorageCatalog("cnt://wh")
        src = spark.createDataFrame([(i, f"v{i}") for i in range(40)],
                                    "id long, v string")
        t = cat.create_table("db.lin", Schema.from_spark(src.schema))
        # 10 snapshots: 4 appends, 3 MoR pos-deletes, 3 eq-delete upserts
        for lo in range(0, 40, 10):
            t.append(src.where(f"id >= {lo} and id < {lo + 10}"))
            t = t.refresh()
        for k in (3, 13, 23):
            t.delete_where(spark, f"id = {k}")
            t = t.refresh()
        for k in (5, 15, 25):
            t.upsert(spark.createDataFrame([(k, "UP")], "id long, v string"),
                     key_cols=["id"])
            t = t.refresh()
        assert len(t.metadata.snapshots) == 10

        schema = T.StructType(
            list(t.schema().to_spark().fields)
            + [T.StructField("_change_type", T.StringType())])
        reader = IcelakePartitionStreamReader(
            {"path": t.path, "changelog": "true"}, schema)

        io.reads.clear()
        parts = reader.partitions(reader.initialOffset(),
                                  reader.latestOffset())
        assert len(parts) == 10
        plan_avro = {p: n for p, n in io.reads.items() if p.endswith(".avro")}
        assert plan_avro and max(plan_avro.values()) == 1, \
            f"driver planning re-read a manifest: {plan_avro}"

        rows = []
        for p in parts:
            rows.extend(arrow_rows(reader.read(p)))
        # executor tasks perform ZERO manifest I/O (payload-driven):
        # across planning + all task reads every manifest is read
        # exactly once — the quadratic design re-read early delete
        # manifests ~N times per micro-batch
        all_avro = {p: n for p, n in io.reads.items() if p.endswith(".avro")}
        assert max(all_avro.values()) == 1, \
            f"manifest re-read scaling with window size: {all_avro}"

        got = sorted((r[0], r[1], r[2]) for r in rows)
        want = sorted((r.id, r.v, r._change_type)
                      for r in t.changes(spark).collect())
        assert got == want
    finally:
        unregister_io("cnt")


def test_changelog_stream_deletes_after_snapshot_expiry(spark, warehouse,
                                                        arrow_rows):
    """Delete events for rows whose ADDING snapshot has been expired:
    the file survives only via carried-forward manifests whose
    added_snapshot_id is no longer listed — the stream planner must
    seed its alive-file map from the first retained snapshot's FULL
    manifest list or those rows' delete events vanish (review fix)."""
    import pyspark.sql.types as T

    from icelake_spark.datasource import IcelakePartitionStreamReader
    from icelake_spark.maintenance import expire_snapshots

    src = spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                                "id long, v string")
    t = warehouse.create_table("db.expstream", Schema.from_spark(src.schema))
    t.append(src)                                 # S1 adds file F
    t = t.refresh()
    t.append(spark.createDataFrame([(20, "x")], "id long, v string"))  # S2
    t = t.refresh()
    n = expire_snapshots(t, older_than_ms=10**18, retain_last=1)
    assert n == 1                                 # S1 expired
    t = t.refresh()
    assert len(t.metadata.snapshots) == 1
    s2_seq = t.current_snapshot().sequence_number
    t.delete_where(spark, "id in (3, 7)")         # S3: MoR pos delete on F
    t = t.refresh()

    schema = T.StructType(
        list(t.schema().to_spark().fields)
        + [T.StructField("_change_type", T.StringType())])
    reader = IcelakePartitionStreamReader(
        {"path": t.path, "changelog": "true",
         "starting_sequence_number": str(s2_seq)}, schema)
    parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
    assert len(parts) == 1
    rows = arrow_rows(reader.read(parts[0]))
    deletes = sorted((r[0], r[1]) for r in rows if r[2] == "delete")
    assert deletes == [(3, "v3"), (7, "v7")], rows


def test_changelog_stream_counts_deletes_of_expired_snapshots(
        spark, warehouse, arrow_rows):
    """An equality delete committed by a since-EXPIRED snapshot lives on
    only in the first retained snapshot's carried-forward manifests.
    The stream must count it among the earlier deletes, or a later
    delete of the same key re-emits the row it already killed."""
    import pyspark.sql.types as T

    from icelake_spark.datasource import IcelakePartitionStreamReader
    from icelake_spark.maintenance import expire_snapshots

    ddl = "id long, v string"
    t = warehouse.create_table(
        "db.expeq", Schema.from_spark(spark.createDataFrame([], ddl).schema))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
    t = t.refresh()
    t.upsert(spark.createDataFrame([(1, "a2")], ddl), key_cols=["id"])
    t = t.refresh()
    t.append(spark.createDataFrame([(3, "c")], ddl))
    t = t.refresh()
    assert expire_snapshots(t, older_than_ms=10**18, retain_last=1) == 2
    t = t.refresh()
    base = t.current_snapshot()
    t.upsert(spark.createDataFrame([(1, "a3")], ddl), key_cols=["id"])
    t = t.refresh()

    schema = T.StructType(
        list(t.schema().to_spark().fields)
        + [T.StructField("_change_type", T.StringType())])
    reader = IcelakePartitionStreamReader(
        {"path": t.path, "changelog": "true",
         "starting_sequence_number": str(base.sequence_number)}, schema)
    got = sorted(r for p in reader.partitions(reader.initialOffset(),
                                              reader.latestOffset())
                 for r in arrow_rows(reader.read(p)))
    want = sorted((r.id, r.v, r._change_type) for r in t.changes(
        spark, from_snapshot_id=base.snapshot_id).collect())
    assert want == [(1, "a2", "delete"), (1, "a3", "insert")]
    assert got == want, got


def test_changelog_batch_boundaries_no_phantom_deletes(spark, warehouse,
                                                       arrow_rows):
    """Splitting the changelog stream into micro-batches must not
    change its content: a key eq-deleted in an earlier batch must not
    re-emit a delete event when a later batch's eq delete hits the
    same (already dead) key — the stream decoder gates on the
    pre-window eq-delete files (code-review r8), also when each window
    is planned by a fresh reader (a restart between micro-batches)."""
    from pyspark.sql import types as T

    from icelake_spark.datasource import (IcelakePartitionStreamReader,
                                          _stream_end_offset)

    src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t = warehouse.create_table("db.chboundary", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    # two upsert cycles on the SAME key: each adds an eq-delete of id=1
    for v in ("a2", "a3"):
        t.upsert(spark.createDataFrame([(1, v)], "id long, v string"),
                 key_cols=["id"])
        t = t.refresh()
    offs = sorted({o for o in (
        __import__("icelake_spark.datasource", fromlist=["_stream_offset_of"])
        ._stream_offset_of(t, s) for s in t.metadata.snapshots)})
    assert len(offs) == 3
    end = _stream_end_offset(t)
    schema = T.StructType(list(t.schema().to_spark().fields)
                          + [T.StructField("_change_type", T.StringType())])

    def run_windows(windows, fresh_reader=False):
        reader = None
        out = []
        for s_, e_ in windows:
            if reader is None or fresh_reader:
                reader = IcelakePartitionStreamReader(
                    {"path": t.path, "changelog": "true"}, schema)
            for p in reader.partitions({"seq": s_}, {"seq": e_}):
                out.extend(arrow_rows(reader.read(p)))
        return sorted((r[0], r[1], r[2]) for r in out)

    one_batch = run_windows([(0, end)])
    split = run_windows([(0, offs[1]), (offs[1], end)])
    assert split == one_batch, (split, one_batch)
    want = sorted((r.id, r.v, r._change_type)
                  for r in t.changes(spark).collect())
    assert one_batch == want
    # a fresh reader per window agrees under the same split
    got = run_windows([(0, offs[1]), (offs[1], end)], fresh_reader=True)
    assert got == want


def _delete_file_paths(t, snapshot):
    """All delete FILE paths added by one snapshot (resolved)."""
    from icelake_spark.types.manifest import (MANIFEST_CONTENT_DELETES,
                                              read_manifest,
                                              read_manifest_list)

    out = []
    for mle in read_manifest_list(t._resolve(snapshot.manifest_list)):
        if mle.content != MANIFEST_CONTENT_DELETES:
            continue
        for e in read_manifest(t._resolve(mle.manifest_path))[1]:
            out.append(t._resolve(e.data_file.file_path))
    return out


def test_changelog_batch_boundary_suppression_survives_rename(
        spark, warehouse, arrow_rows):
    """fold_eq_prior must resolve delete-file column names through the
    rename map: an eq-delete file written BEFORE a RENAME of the key
    column carries the OLD name, and indexing the post-rename schema
    directly built length-mismatched key tuples that never matched —
    the prior-eq suppression silently vanished and the second window
    re-emitted a phantom delete for the already-dead row (ADVICE r8).
    The stream decoder must agree with the one-batch result, with one
    reader across both windows and with a fresh reader per window."""
    from pyspark.sql import types as T

    from icelake_spark.datasource import (IcelakePartitionStreamReader,
                                          _stream_end_offset,
                                          _stream_offset_of)

    src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t = warehouse.create_table("db.chren2", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    t.upsert(spark.createDataFrame([(1, "a2")], "id long, v string"),
             key_cols=["id"])
    t = t.refresh()
    t.rename_column("id", "ident")
    t = t.refresh()
    t.upsert(spark.createDataFrame([(1, "a3")], "ident long, v string"),
             key_cols=["ident"])
    t = t.refresh()
    offs = sorted({_stream_offset_of(t, s) for s in t.metadata.snapshots})
    end = _stream_end_offset(t)
    schema = T.StructType(list(t.schema().to_spark().fields)
                          + [T.StructField("_change_type", T.StringType())])
    want = sorted((r.ident, r.v, r._change_type)
                  for r in t.changes(spark).collect())
    # each kill emits exactly ONE delete event: (1,a) dies in upsert 1,
    # (1,a2) in upsert 2. The phantom bug re-emitted (1,a,delete) in the
    # second window because the pre-rename eq file stopped suppressing.
    assert want.count((1, "a", "delete")) == 1
    assert want.count((1, "a2", "delete")) == 1

    split = []
    for s_, e_ in [(0, offs[1]), (offs[1], end)]:
        fresh = IcelakePartitionStreamReader(
            {"path": t.path, "changelog": "true"}, schema)
        for p in fresh.partitions({"seq": s_}, {"seq": e_}):
            split.extend((r[0], r[1], r[2])
                         for r in arrow_rows(fresh.read(p)))
    split.sort()
    assert split == want, (split, want)

    reader = IcelakePartitionStreamReader(
        {"path": t.path, "changelog": "true"}, schema)
    rows = []
    for s_, e_ in [(0, offs[1]), (offs[1], end)]:
        for p in reader.partitions({"seq": s_}, {"seq": e_}):
            rows.extend(arrow_rows(reader.read(p)))
    got = sorted((r[0], r[1], r[2]) for r in rows)
    assert got == want, (got, want)


def test_changelog_window_skips_future_snapshot_io(
        spark, warehouse, monkeypatch, arrow_rows):
    """Reading an EARLY changelog window must not decode delete parquet
    files of snapshots PAST the window's end — the accumulated-state
    walk is offset-sorted, so it breaks at end_seq instead of folding
    every future snapshot's deletes on every micro-batch (ADVICE r8)."""
    import pyarrow.parquet as _pq
    from pyspark.sql import types as T

    from icelake_spark.datasource import (IcelakePartitionStreamReader,
                                          _stream_offset_of)

    src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t = warehouse.create_table("db.chfuture", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    first = t.current_snapshot()
    for v in ("a2", "a3"):
        t.upsert(spark.createDataFrame([(1, v)], "id long, v string"),
                 key_cols=["id"])
        t = t.refresh()
    future_deletes = set()
    for s in t.metadata.snapshots:
        if s.snapshot_id != first.snapshot_id:
            future_deletes.update(_delete_file_paths(t, s))
    assert future_deletes  # the upserts really wrote delete files

    schema = T.StructType(list(t.schema().to_spark().fields)
                          + [T.StructField("_change_type", T.StringType())])
    reader = IcelakePartitionStreamReader(
        {"path": t.path, "changelog": "true"}, schema)
    seen = []
    real = _pq.read_table

    def spy(path, *a, **kw):
        seen.append(str(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(_pq, "read_table", spy)
    off1 = _stream_offset_of(t, first)
    rows = [r for p in reader.partitions({"seq": 0}, {"seq": off1})
            for r in arrow_rows(reader.read(p))]
    assert sorted(r[0] for r in rows) == [1, 2]
    touched = {p for p in seen if p in future_deletes}
    assert not touched, f"future snapshots decoded: {touched}"


def test_changelog_stream_fails_loud_on_dropped_eq_key_column(
        spark, warehouse):
    """An eq-delete file keyed on a since-DROPPED column cannot be
    applied: silently dropping the column from the key would WIDEN the
    match (any row sharing the remaining key values treated as dead —
    phantom delete events). The stream decoder must fail loudly, as
    the batch read path and changes() already do (code-review r9)."""
    from pyspark.sql import types as T

    from icelake_spark.datasource import (IcelakePartitionStreamReader,
                                          _stream_end_offset)

    src = spark.createDataFrame([(1, "a", "eu"), (2, "b", "us")],
                                "id long, v string, region string")
    t = warehouse.create_table("db.chdropkey", Schema.from_spark(src.schema))
    t.append(src)
    t = t.refresh()
    t.upsert(spark.createDataFrame([(1, "a2", "eu")],
                                   "id long, v string, region string"),
             key_cols=["id", "region"])
    t = t.refresh()
    t.drop_column("region")
    t = t.refresh()

    schema = T.StructType(list(t.schema().to_spark().fields)
                          + [T.StructField("_change_type", T.StringType())])
    reader = IcelakePartitionStreamReader(
        {"path": t.path, "changelog": "true"}, schema)
    end = _stream_end_offset(t)
    with pytest.raises(ValueError, match="region"):
        for p in reader.partitions({"seq": 0}, {"seq": end}):
            list(reader.read(p))


def test_changelog_stream_task_batches_share_one_arrow_schema(
        spark, warehouse, tmp_path, arrow_rows):
    """One changelog task's batches form one Arrow stream: a snapshot
    whose deletes touch a native file and an imported file whose string
    column is large_string yields every batch under one schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from icelake_spark.datasource import IcelakePartitionStreamReader

    ddl = "id long, v string"
    t = warehouse.create_table(
        "db.chmixedarrow",
        Schema.from_spark(spark.createDataFrame([], ddl).schema))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
    f = str(tmp_path / "large.parquet")
    pq.write_table(pa.table({"id": pa.array([7, 8], pa.int64()),
                             "v": pa.array(["x", "y"], pa.large_string())}), f)
    t = t.refresh()
    t.add_files([f])
    t = t.refresh()
    base = t.current_snapshot()
    t.delete_where(spark, "id in (1, 7)")  # one position delete per file
    t = t.refresh()

    schema = T.StructType(list(t.schema().to_spark().fields)
                          + [T.StructField("_change_type", T.StringType())])
    reader = IcelakePartitionStreamReader(
        {"path": t.path, "changelog": "true",
         "starting_sequence_number": str(base.sequence_number)}, schema)
    parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
    assert len(parts) == 1 and len(parts[0].deletes) == 2
    batches = list(reader.read(parts[0]))
    assert len({b.schema for b in batches}) == 1
    assert sorted(arrow_rows(batches)) == [(1, "a", "delete"),
                                           (7, "x", "delete")]
