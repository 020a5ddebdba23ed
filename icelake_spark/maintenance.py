"""Table maintenance: compaction (rewrite_data_files), snapshot
expiration, orphan-file cleanup.

Parity target: the reference delegates compaction to Spark's
`CALL system.rewrite_data_files` (/root/reference/icelake/tests/
insert_compact_test.rs:198-211); here we ARE Spark, so it's a native
job: read current state (MoR applied) → rewrite files at target size →
commit a "replace" snapshot (operation classification per
/root/reference/icelake/src/types/in_memory.rs:2219-2240).
"""

from __future__ import annotations

from .fileio import io_join, norm_path, resolve_io
import time

from pyspark.sql import SparkSession

from .transaction import Transaction
from .write import (DEFAULT_TARGET_FILE_SIZE, PROP_TARGET_FILE_SIZE,
                    write_data_files)


def _target_file_size(table, target_file_size: int | None) -> int:
    """The compaction target: the caller's, else the table's
    `write.target-file-size-bytes` (Iceberg's rewrite_data_files
    honours it too), else the writer's default."""
    return target_file_size or int(table.metadata.properties.get(
        PROP_TARGET_FILE_SIZE, DEFAULT_TARGET_FILE_SIZE))


def rewrite_data_files(table, spark: SparkSession,
                       target_file_size: int | None = None,
                       target_records_per_file: int | None = None) -> int:
    """Compact: rewrite all live data (with deletes applied) into
    right-sized files; commit as a `replace` snapshot. Returns the new
    data-file count."""
    scan = table.new_scan(apply_deletes=True)
    data, _, _ = scan.plan_files(spark)
    if not data:
        return 0
    target_file_size = _target_file_size(table, target_file_size)
    df = scan.to_df(spark)
    total_bytes = sum(t.data_file.file_size_in_bytes for t in data)
    n_parts = max(1, (total_bytes + target_file_size - 1) // target_file_size)
    spec = table.metadata.default_spec()
    if spec.is_unpartitioned:
        df = df.repartition(int(n_parts))
    files = write_data_files(table, df,
                             max_records_per_file=target_records_per_file,
                             target_file_size=target_file_size)
    tx = Transaction(table)
    tx.remove_all_existing()
    tx.add_data_files(files)
    tx.commit("replace")
    return len(files)


def _reachable(table, snaps, strict: bool) -> tuple[set, set]:
    """(manifest lists + manifests, data + delete files) that `snaps`
    reference, as normalized paths. strict=True (every live set: the
    snapshots expiry keeps, all snapshots for orphan cleanup): an
    unreadable manifest list or manifest must ABORT — swallowing it
    truncates the live-file inventory, and the caller would delete
    files a retained snapshot still references (code-review r9).
    strict=False (expired snapshots): their manifests may already be
    gone, which only shrinks the DEAD set (safe)."""
    from .types.manifest import read_manifest, read_manifest_list

    manifests, files = set(), set()
    for s in snaps:
        try:
            ml = table._resolve(s.manifest_list)
            manifests.add(norm_path(ml))
            for mle in read_manifest_list(ml):
                mp = table._resolve(mle.manifest_path)
                manifests.add(norm_path(mp))
                _, entries = read_manifest(mp)
                for e in entries:
                    files.add(norm_path(table._resolve(e.data_file.file_path)))
        except FileNotFoundError:
            if strict:
                raise
    return manifests, files


def expire_snapshots(table, older_than_ms: int | None = None,
                     retain_last: int = 1, delete_files: bool = True) -> int:
    """Drop snapshots older than the cutoff (keeping `retain_last` most
    recent and everything refs retain); optionally delete files no
    longer reachable. Returns number of snapshots expired.

    Ref-aware retention (SnapshotReference knobs, in_memory.rs
    ref model :2360-2410):
    - a non-main ref whose head is older than its `max_ref_age_ms` is
      itself removed;
    - a surviving branch keeps its head plus ancestors within the
      branch's `max_snapshot_age_ms` and at least
      `min_snapshots_to_keep` most-recent ancestors;
    - a tag keeps exactly its head.

    `older_than_ms=None` uses the table's
    `history.expire.max-snapshot-age-ms` (Iceberg's documented 5-day
    default) — a bare `expire_snapshots(t)` keeps the recent week of
    time travel instead of irreversibly destroying all history on the
    spot. Pass an explicit cutoff (e.g. now) for immediate expiry.
    """
    from dataclasses import replace as dc_replace

    metadata = table.metadata
    now_ms = int(time.time() * 1000)
    if older_than_ms is None:
        max_age = int(metadata.properties.get(
            "history.expire.max-snapshot-age-ms", 5 * 24 * 3600 * 1000))
        older_than_ms = now_ms - max_age
    by_id = {s.snapshot_id: s for s in metadata.snapshots}

    # 1. expire refs past their own max age (main never expires)
    refs = {}
    for name, r in metadata.refs.items():
        head = by_id.get(r.snapshot_id)
        if (name != "main" and r.max_ref_age_ms is not None and head is not None
                and now_ms - head.timestamp_ms > r.max_ref_age_ms):
            continue
        refs[name] = r

    # retain_last counts ANCESTORS OF THE CURRENT HEAD (Iceberg's
    # retainLast semantics), not the globally most-recent snapshots —
    # after rollback_to, the rolled-past snapshots are newer by
    # timestamp and would otherwise consume every retained slot while
    # the live branch's own history got expired
    keep_ids: set[int] = set()
    sid, kept_n = metadata.current_snapshot_id, 0
    while sid is not None and sid in by_id and kept_n < retain_last:
        keep_ids.add(sid)
        kept_n += 1
        sid = by_id[sid].parent_snapshot_id
    if metadata.current_snapshot_id is not None:
        keep_ids.add(metadata.current_snapshot_id)

    # 2. per-ref retention along each surviving ref's ancestry
    for r in refs.values():
        keep_ids.add(r.snapshot_id)
        if r.type != "branch":
            continue  # tags retain only their head
        min_keep = r.min_snapshots_to_keep if r.min_snapshots_to_keep else 1
        sid, idx = r.snapshot_id, 0
        while sid is not None and sid in by_id:
            s = by_id[sid]
            within_age = (r.max_snapshot_age_ms is not None
                          and now_ms - s.timestamp_ms <= r.max_snapshot_age_ms)
            if idx < min_keep or within_age:
                keep_ids.add(sid)
            elif r.max_snapshot_age_ms is not None:
                break  # older ancestors are older still
            sid, idx = s.parent_snapshot_id, idx + 1

    expired = [s for s in metadata.snapshots
               if s.snapshot_id not in keep_ids and s.timestamp_ms < older_than_ms]
    if not expired and refs.keys() == metadata.refs.keys():
        return 0
    kept = tuple(s for s in metadata.snapshots if s not in expired)

    # inventory dead files BEFORE the commit, but DELETE them only after
    # it succeeds (Iceberg's order): a conflicting concurrent commit
    # aborts the metadata swap, and deleting first would leave the still-
    # live metadata pointing at removed manifests/data — unrecoverable.
    # A crash between commit and deletion merely leaves orphans, which
    # remove_orphan_files reclaims.
    to_delete: set[str] = set()
    if delete_files:
        # the KEPT set is strict, the expired set lenient (see _reachable)
        live_m, live_d = _reachable(table, kept, strict=True)
        dead_m, dead_d = _reachable(table, expired, strict=False)
        to_delete = (dead_m - live_m) | (dead_d - live_d)

    kept_ids = {s.snapshot_id for s in kept}
    new_metadata = dc_replace(
        metadata,
        snapshots=kept,
        refs=refs,
        snapshot_log=tuple(h for h in metadata.snapshot_log
                           if h["snapshot-id"] in kept_ids),
        last_updated_ms=int(time.time() * 1000),
    )
    table._commit_metadata(new_metadata)
    io = resolve_io(table.path)
    for p in to_delete:
        io.delete_quiet(p)
    return len(expired)


ORPHAN_DEFAULT_AGE_MS = 3 * 24 * 3600 * 1000  # Iceberg's 3-day default


def remove_orphan_files(table, older_than_ms: int | None = None) -> int:
    """Delete files under data/ not referenced by any snapshot and older
    than the cutoff (default: 3 days ago, Iceberg's default — a cutoff
    of "now" would delete files STAGED by in-flight writes whose commit
    hasn't published the referencing manifest yet, corrupting the
    table). A retained snapshot whose manifests cannot be read aborts
    the cleanup before anything is deleted."""
    _, referenced = _reachable(table, table.metadata.snapshots, strict=True)
    if older_than_ms is None:
        cutoff = time.time() - ORPHAN_DEFAULT_AGE_MS / 1000
    else:
        cutoff = older_than_ms / 1000
    removed = 0
    io = resolve_io(table.path)
    data_dir = io_join(table.path, "data")
    for raw, _sz in io.list_files(data_dir):
        p = norm_path(raw)
        if not p.endswith((".parquet", ".orc", ".avro")) \
                or p in referenced:
            continue
        try:
            # mtime inside the guard too: a concurrent cleanup may
            # delete the file between the listing and the stat
            if io.mtime(raw) < cutoff:
                io.delete(raw)
                removed += 1
        except (OSError, FileNotFoundError):
            pass
    return removed


def rollback_to(table, snapshot_id: int) -> None:
    """Roll the table back to an earlier snapshot (metadata-only: point
    current + the main branch at it; no snapshot is deleted, so the
    rolled-past history stays time-travelable until expire_snapshots).
    Mirrors Iceberg's rollback_to_snapshot table update (the reference
    exposes the refs map and current id, in_memory.rs:2360-2410).

    The target must be on the CURRENT MAIN ANCESTRY, as Iceberg
    requires: an unrestricted move could silently publish a WAP
    branch-staged (unaudited) snapshot as current under an operation
    named 'rollback' (code-review r9). Use set_current_snapshot for
    the anything-goes ref move."""
    md = table.metadata
    md.snapshot_by_id(snapshot_id)  # raises KeyError if unknown
    if snapshot_id not in md.ancestry_ids():
        raise ValueError(
            f"rollback_to: snapshot {snapshot_id} is not an ancestor of "
            f"the current snapshot (WAP-staged or rolled-past?); use "
            f"set_current_snapshot to publish arbitrary snapshots")
    set_current_snapshot(table, snapshot_id)


def set_current_snapshot(table, snapshot_id: int) -> None:
    """Point current + the main branch at ANY known snapshot (Iceberg's
    set_current_snapshot procedure — rollback_to without the ancestry
    restriction; the caller owns the audit implications)."""
    import time as _time
    from dataclasses import replace as dc_replace

    from .types.metadata import MAIN_BRANCH, SnapshotReference

    md = table.metadata
    md.snapshot_by_id(snapshot_id)  # raises KeyError if unknown
    refs = dict(md.refs)
    prev = refs.get(MAIN_BRANCH)
    # keep the branch's retention knobs (min_snapshots_to_keep etc.) —
    # a bare replacement would silently reset them and let the next
    # expire_snapshots drop history the user configured to retain
    refs[MAIN_BRANCH] = (dc_replace(prev, snapshot_id=snapshot_id)
                         if prev is not None
                         else SnapshotReference(snapshot_id, "branch"))
    now = int(_time.time() * 1000)
    table._commit_metadata(dc_replace(
        md, current_snapshot_id=snapshot_id, refs=refs, last_updated_ms=now,
        snapshot_log=md.snapshot_log + (
            {"snapshot-id": snapshot_id, "timestamp-ms": now},)))


def rewrite_position_deletes(table, spark) -> int:
    """Compact position-delete files (Iceberg's
    `system.rewrite_position_delete_files`): merge every live
    position-delete entry into one sorted file set, dropping dangling
    pairs whose target data file is no longer live (left behind by
    compaction/CoW rewrites). Returns the number of delete files
    before compaction.

    THE MoR scale lever: every scan reads every live delete file, so a
    table taking steady row-level deletes degrades linearly until its
    delete set is compacted. The new file commits at the current
    sequence number — for position deletes that is coverage-neutral
    (pairs target explicit (file,pos) rows and data-file paths are
    unique), matching Iceberg's own rewrite behavior. Equality deletes
    are left untouched: collapsing them WOULD change coverage (their
    seq gates which data they apply to)."""
    from pyspark.sql import functions as F

    from .planning import canon_data_path, canon_data_path_col
    from .table import read_position_deletes

    data, pos, _eq = table.new_scan().plan_files(spark)
    if len(pos) <= 1:
        return len(pos)
    old_paths = sorted({t.delete_file.file_path for t in pos})
    if len(old_paths) <= 1:
        return len(old_paths)
    live = spark.createDataFrame(
        [(canon_data_path(t.data_file.file_path),) for t in data],
        "__live string")
    merged = (read_position_deletes(spark, old_paths)
              .select("file_path", "pos")
              .join(F.broadcast(live),
                    canon_data_path_col(F.col("file_path"))
                    == F.col("__live"), "left_semi"))
    from .delta import write_position_delete_files

    # output file count sized from the INPUT bytes (64 MiB target), so
    # compacting 3 small files yields 1, and a 10 GiB delete set still
    # parallelizes — never the shuffle-partition default
    total = sum(t.delete_file.file_size_in_bytes or 0 for t in pos)
    n_parts = max(1, (total + (64 << 20) - 1) // (64 << 20))
    new_files = write_position_delete_files(
        table, merged, target_partitions=int(n_parts))
    tx = Transaction(table)
    tx.remove_delete_files(old_paths)
    if new_files:
        tx.add_delete_files(new_files)
    tx.commit("replace")
    return len(old_paths)


def cherrypick_snapshot(table, snapshot_id: int) -> None:
    """Apply ONE staged snapshot's additions onto the current state
    (Iceberg's `system.cherrypick_snapshot` — the per-snapshot publish
    primitive of write-audit-publish, vs fast_forward which moves the
    whole branch). Restricted to APPEND snapshots, as Iceberg is:
    replaying a delete/overwrite against a head that has since moved
    could resurrect or re-remove files its manifests no longer
    describe. The pick re-commits the snapshot's ADDED data files
    through a fresh Transaction (new snapshot id/sequence on main;
    the parquet files themselves are shared, not copied), so history
    records both the staged commit and the publish."""
    from .changelog import _added_in

    md = table.metadata
    snap = md.snapshot_by_id(snapshot_id)  # KeyError if unknown
    cur = md.current_snapshot()
    if cur is not None and snap.snapshot_id == cur.snapshot_id:
        return  # picking the head is a no-op
    main_ids = md.ancestry_ids()
    if snapshot_id in main_ids:
        # already published on main: re-committing its files would
        # duplicate every row (the realistic trigger is an at-least-
        # once publish job retrying a cherrypick whose first attempt
        # committed). Iceberg raises CherrypickAncestorCommitException
        # for the same case (code-review r9).
        raise ValueError(
            f"cherrypick_snapshot: snapshot {snapshot_id} is already an "
            f"ancestor of the current snapshot — picking it again would "
            f"duplicate its rows")
    # a pick re-commits under a NEW snapshot id, so the ancestor check
    # alone misses a RETRIED pick of the same staged snapshot; the
    # publish provenance recorded below closes that window (Iceberg's
    # DuplicateWAPCommitException discipline)
    wap_id = (snap.summary or {}).get("wap.id")
    for s2 in md.snapshots:
        if s2.snapshot_id not in main_ids:
            continue
        s2sum = s2.summary or {}
        if s2sum.get("source-snapshot-id") == str(snapshot_id):
            raise ValueError(
                f"cherrypick_snapshot: snapshot {snapshot_id} was already "
                f"cherry-picked as snapshot {s2.snapshot_id}")
        if wap_id is not None and s2sum.get("published-wap-id") == wap_id:
            raise ValueError(
                f"cherrypick_snapshot: wap.id {wap_id!r} was already "
                f"published as snapshot {s2.snapshot_id}")
    op = snap.summary.get("operation", "append")
    if op != "append":
        raise ValueError(
            f"cherrypick_snapshot only applies append snapshots; "
            f"snapshot {snapshot_id} is {op!r}")
    default_spec_id = md.default_spec().spec_id
    adds, _, _ = _added_in(table, snap)
    for t in adds:
        if t.spec_id != default_spec_id:
            raise ValueError(
                f"cherrypick_snapshot: snapshot {snapshot_id} wrote under "
                f"spec {t.spec_id}, table default is now "
                f"{default_spec_id} — cannot re-commit across a spec change")
    if not adds:
        return
    tx = Transaction(table)
    tx.add_data_files([t.data_file for t in adds])
    # publish provenance: the duplicate-pick guard above keys on these
    extras = {"source-snapshot-id": str(snapshot_id)}
    if wap_id is not None:
        extras["published-wap-id"] = wap_id
    tx.set_summary_extras(extras)
    tx.commit("append")


def rewrite_manifests(table) -> int:
    """Compact the metadata tree: merge all live data-manifest entries
    into one manifest per partition-spec (delete manifests carry over
    untouched) and commit a replace snapshot. Planning cost is
    O(#manifests) driver-side Avro; data files are untouched. Returns
    the number of manifests before compaction."""
    from .types.manifest import read_manifest_list

    parent = table.metadata.current_snapshot()
    if parent is None:
        return 0
    n_before = len(read_manifest_list(table._resolve(parent.manifest_list)))
    if n_before > 1:
        Transaction(table).regroup_manifests().commit("replace")
    return n_before


def rewrite_zorder(table, spark: SparkSession, cols: list[str],
                   target_file_size: int | None = None,
                   bits: int = 16) -> int:
    """Z-order compaction: rewrite all live data clustered on the
    interleaved bit representation of `cols`, so per-file min/max bounds
    tighten on EVERY listed column and zone-map pruning works for
    predicates on any of them (a plain sort only helps its leading
    column). The Spark-native equivalent of
    `CALL system.rewrite_data_files(strategy => 'sort',
    sort_order => 'zorder(a, b)')`.

    Plan: one min/max agg (driver gets 2·k doubles) → per-row z-value as
    a pure-expression bit interleave of `bits`-bit normalized ranks →
    repartitionByRange(z) (range exchange = the only shuffle; sampled
    bounds keep output files balanced) → sortWithinPartitions(z) →
    replace commit. Returns the new data-file count.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if not cols:
        raise ValueError("rewrite_zorder needs at least one column")
    scan = table.new_scan(apply_deletes=True)
    data, _, _ = scan.plan_files(spark)
    if not data:
        return 0
    df = scan.to_df(spark)

    # a 64-bit z-value fits at most 63 interleaved bits: clamp per-column
    # bits so shifts never exceed 63 (Java shiftleft masks the amount to
    # 6 bits — an overflowing shift silently corrupts the interleave)
    bits = max(1, min(bits, 63 // len(cols)))

    def _numeric(c: str):
        """Column as double for rank-scaling; temporal types map to
        epoch numbers (ordering preserved). Unsupported types fail fast
        instead of crashing in float() below."""
        dt = df.schema[c].dataType
        if isinstance(dt, (T.DateType,)):
            return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        if isinstance(dt, T.NumericType) or isinstance(dt, T.BooleanType):
            return F.col(c).cast("double")
        raise ValueError(f"zorder does not support column {c!r} of type "
                         f"{dt.simpleString()} (numeric/date/timestamp only)")

    num = {c: _numeric(c) for c in cols}
    stats = df.agg(*[F.min(num[c]).alias(f"lo_{c}") for c in cols],
                   *[F.max(num[c]).alias(f"hi_{c}") for c in cols]).collect()[0]

    def scaled(c: str):
        lo_raw, hi_raw = stats[f"lo_{c}"], stats[f"hi_{c}"]
        if lo_raw is None or hi_raw is None:  # all-null column
            return F.lit(0).cast("long")
        lo, hi = float(lo_raw), float(hi_raw)
        span = (hi - lo) or 1.0
        x = (num[c] - F.lit(lo)) / F.lit(span)
        v = F.least(F.lit((1 << bits) - 1),
                    F.greatest(F.lit(0),
                               F.floor(x * ((1 << bits) - 1)).cast("long")))
        return F.coalesce(v, F.lit(0).cast("long"))  # nulls cluster low

    # interleave: output bit (i*k + j) = bit i of column j
    k = len(cols)
    svals = [scaled(c) for c in cols]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, sv in enumerate(svals):
            z = z + F.shiftleft(F.shiftright(sv, i).bitwiseAND(F.lit(1)),
                                i * k + j).cast("long")

    target_file_size = _target_file_size(table, target_file_size)
    total_bytes = sum(t.data_file.file_size_in_bytes for t in data)
    n_parts = int(max(1, (total_bytes + target_file_size - 1)
                      // target_file_size))
    zdf = (df.withColumn("__z", z)
           .repartitionByRange(n_parts, F.col("__z"))
           .sortWithinPartitions("__z")
           .drop("__z"))
    # preserve_distribution: the range exchange + sort above IS the
    # clustering — the writer's default hash shuffle on partition
    # columns would scramble row order and void every per-file bound
    files = write_data_files(table, zdf, target_file_size=target_file_size,
                             preserve_distribution=True)
    tx = Transaction(table)
    tx.remove_all_existing()
    tx.add_data_files(files)
    tx.commit("replace")
    return len(files)


_STATS_TYPES = {"boolean", "integer", "long", "float", "double", "string",
                "date", "timestamp", "timestamp_ntz", "short", "byte"}


def compute_table_stats(table, spark, columns: list[str] | None = None,
                        exact: bool = True):
    """ANALYZE: per-column NDV / null_count / min / max over the
    current snapshot, committed as table properties (`stats.<col>.*`
    plus `stats.snapshot-id`) so SHOW TBLPROPERTIES and any engine
    reading the metadata JSON see them. Iceberg proper stores the same
    numbers as Puffin NDV blobs (apache/iceberg spec: theta sketches
    referenced from statistics-files); properties keep this repo's
    metadata single-format while exposing identical content.

    ONE aggregate pass over the table. exact=True uses
    COUNT(DISTINCT col) per column — Spark plans the standard
    multi-distinct Expand (rows replicated |cols|-fold before one
    shuffle), which matches the DuckDB oracle exactly. At 100 TB call
    with exact=False: approx_count_distinct's HLL++ keeps it to a
    single pass with no Expand, the same trade Iceberg's theta-sketch
    blobs make. Returns (column, ndv, null_count, min, max) ordered
    by column name; min/max stringified post-aggregation so one
    result schema covers every column type.
    """
    from pyspark.sql import functions as F

    df = table.to_df(spark)
    if columns is None:
        cols = [f.name for f in df.schema.fields
                if f.dataType.typeName() in _STATS_TYPES
                or f.dataType.typeName().startswith("decimal")]
    else:
        missing = [c for c in columns if c not in df.columns]
        if missing:
            raise ValueError(f"analyze_table: unknown columns {missing}")
        cols = list(columns)
    if not cols:
        raise ValueError("analyze_table: no analyzable columns")
    aggs = []
    for c in cols:
        ndv = (F.count_distinct(F.col(c)) if exact
               else F.approx_count_distinct(c))
        aggs += [ndv.alias(f"__ndv_{c}"),
                 F.sum(F.isnull(F.col(c)).cast("long")).alias(f"__nul_{c}"),
                 F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
                 F.max(F.col(c)).cast("string").alias(f"__max_{c}")]
    row = df.agg(*aggs).collect()[0].asDict()  # bounded: ONE row
    props, out = {}, []
    for c in cols:
        # a ZERO-ROW table returns NULL for the sum aggregates (Spark
        # SUM over no rows) — report zero-row stats, don't crash
        # ANALYZE TABLE with int(None) (review r11)
        ndv = int(row[f"__ndv_{c}"] or 0)
        nul = int(row[f"__nul_{c}"] or 0)
        mn, mx = row[f"__min_{c}"], row[f"__max_{c}"]
        out.append((c, ndv, nul, mn, mx))
        props[f"stats.{c}.ndv"] = str(ndv)
        props[f"stats.{c}.null-count"] = str(nul)
        if mn is not None:
            props[f"stats.{c}.min"] = mn
        if mx is not None:
            props[f"stats.{c}.max"] = mx
    snap = table.metadata.current_snapshot()
    if snap is not None:
        props["stats.snapshot-id"] = str(snap.snapshot_id)
    # clear stats keys NOT recomputed this run: stats.snapshot-id is
    # stamped for the whole stats namespace, so leftover numbers from
    # an earlier ANALYZE (other columns, or a min/max that became
    # all-NULL) would masquerade as current (code-review r9)
    stale = {k: None for k in table.metadata.properties
             if k.startswith("stats.") and k not in props}
    table.set_properties({**stale, **props})
    return spark.createDataFrame(
        sorted(out), "column string, ndv long, null_count long, "
                     "min string, max string")
