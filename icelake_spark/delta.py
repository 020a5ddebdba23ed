"""CDC merge / upsert: batch formulation of the reference's equality-
delta writer, plus the position/equality delete-file writers, which
shape a delete frame and its schema and hand both to the writer tree
(write.write_delete_files: field ids, one registration tail).

Parity targets:
- EqualityDeltaWriter (W7): /root/reference/icelake/src/io_v2/
  functional_writer/equality_delta_writer.rs:95-263 — INSERT records a
  key, duplicate key supersedes the prior row, DELETE of an in-batch key
  removes it, DELETE of an older key emits an equality-delete row;
- UpsertWriter (W8): io/functional_writer/upsert_writer.rs:25-220 —
  ops column (1=INSERT, 2=DELETE);
- PositionDeleteWriter (W2) sorted flush: io/file_writer/
  position_delete_writer.rs:14-178 (spec: sorted by file, pos);
- EqualityDeleteWriter (W3): io_v2/base_writer/equality_delete_writer.rs.

Spark formulation (SURVEY §2.3 J2/J3): instead of a per-writer in-memory
key→(file,pos) map (unbounded at scale), in-batch last-wins is a window
over a monotonic `_seq`; the final state is identical — superseded rows
are simply never written, rather than written-then-position-deleted.
Cross-snapshot deletes become equality-delete files applied at read time
by sequence number. This keeps the whole merge distributed: one shuffle
by key, no driver state.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .types.datatypes import LONG, STRING, NestedField, Schema, StructType
from .types.manifest import (
    CONTENT_EQUALITY_DELETES,
    CONTENT_POSITION_DELETES,
    POS_DELETE_FILE_PATH_ID,
    POS_DELETE_POS_ID,
    POS_DELETE_ROW_ID,
    DataFile,
)

OP_INSERT = 1
OP_DELETE = 2
# insert WITHOUT superseding prior snapshots' rows: no equality-delete
# is emitted for the key. MERGE's WHEN NOT MATCHED lane uses this — the
# anti-join already proved the key absent, and for NULL-containing keys
# an eq-delete would be actively wrong (SQL: NULL never matches, but
# the read path's NULL-SAFE anti-join would kill the target's unrelated
# NULL-key rows — code-review r9). OP_INSERT keeps full upsert
# semantics including null-safe replacement (the rollup refresh's
# NULL group keys rely on it).
OP_APPEND = 3


def write_position_delete_files(table, deletes: DataFrame,
                                target_partitions: int | None = None,
                                ) -> list[DataFile]:
    """deletes: DataFrame(file_path string, pos long[, row struct]),
    written sorted by (file_path, pos) per spec with the spec's reserved
    field ids (file_path 2147483546, pos 2147483545, row 2147483544;
    position_delete_writer.rs:90-178) and registered by the writer
    tree's one tail (write._register_files), so its manifest entry
    carries counts and bounds like a data file's.

    The optional `row` column carries the deleted row's content — the
    spec's optional payload — written when the caller provides it (see
    delete_rows / `write.position-delete.include-row`); its members
    carry no ids (Spark stamps top-level ids only). Readers that don't
    need it (our MoR scan) simply never project it.
    """
    from .write import write_delete_files

    fields = [NestedField(POS_DELETE_FILE_PATH_ID, "file_path", STRING, True),
              NestedField(POS_DELETE_POS_ID, "pos", LONG, True)]
    cols = [F.col("file_path").cast("string"), F.col("pos").cast("long")]
    if "row" in deletes.columns:
        fields.append(NestedField(POS_DELETE_ROW_ID, "row",
                                  table.schema().struct))
        cols.append(F.col("row"))
    df = deletes.select(*cols)
    # global sort by (file, pos) mirrors SortedPositionDeleteWriter (O1).
    # target_partitions (delete compaction) bounds the output file
    # count from the INPUT size instead of spark.sql.shuffle.partitions
    # — a compaction that fans 3 small files out to 32 smaller ones
    # would be anti-compaction
    if target_partitions is not None:
        df = df.repartition(target_partitions, "file_path")
    else:
        df = df.repartition("file_path")
    df = df.sortWithinPartitions("file_path", "pos")
    return write_delete_files(table, df, Schema(StructType(tuple(fields))),
                              CONTENT_POSITION_DELETES)


def write_equality_delete_files(table, keys: DataFrame,
                                key_cols: list[str]) -> list[DataFile]:
    """The distinct `key_cols` of `keys` as equality-delete files: each
    key column carries its table field id, and the entry its
    equality_ids, counts and bounds."""
    from .write import (PROP_TARGET_FILE_SIZE, _coalesce_to_target,
                        write_delete_files)

    key_schema = Schema(StructType(tuple(table.schema().field_by_name(c)
                                         for c in key_cols)))
    tfs = table.metadata.properties.get(PROP_TARGET_FILE_SIZE)
    # sized like an unpartitioned data write: the key set keeps its
    # source's partition count (the shuffle partitions of a keyed
    # window), which would otherwise write one small file per partition
    df = _coalesce_to_target(keys.select(*key_cols).dropDuplicates(key_cols),
                             int(tfs) if tfs else None)
    return write_delete_files(table, df, key_schema, CONTENT_EQUALITY_DELETES,
                              equality_ids=[f.field_id for f in key_schema.fields])


# the local properties that place a job in its caller's job group and
# scheduler pool (SparkContext.setJobGroup / spark.scheduler.pool)
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel", "spark.scheduler.pool")


def _overlap(spark, *thunks):
    """Run independent Spark write/collect actions from driver threads
    (guide §2.6): actions are only sequential because the driver calls
    them sequentially, so the second job's tasks back-fill executors
    freed by the first job's straggler tail instead of waiting for it.
    Returns results in argument order; exceptions propagate. Safe for
    sibling jobs over one persisted frame: concurrent first-computation
    of a cached partition yields identical block values (the cached
    child plan is fixed at persist time and its row order is
    deterministic per partition), and the BlockManager stores one copy.

    Pool threads start with empty Spark local properties, so the
    caller's job-control properties (_JOB_PROPS) are read HERE, in the
    caller's thread, and each pool thread sets them on its own before
    its thunk runs: without that, `cancelJobGroup` could not reach the
    jobs an op starts. Only these are carried. Copying every local
    property (`pyspark.inheritable_thread_target`) also copies the
    caller's SQL execution and streaming state — inside a foreachBatch,
    the micro-batch's `spark.sql.execution.id`, its root id and job
    tags, the query and batch ids — into ONE Properties object that
    both threads then mutate; test runs stalled in a streaming upsert
    with it."""
    from concurrent.futures import ThreadPoolExecutor

    sc = spark.sparkContext
    props = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}

    def carry(thunk):
        def run():
            for k, v in props.items():
                sc.setLocalProperty(k, v)
            return thunk()
        return run

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(carry(t)) for t in thunks]
        return [f.result() for f in futures]


def merge_delta(table, df: DataFrame, key_cols: list[str] | None = None,
                op_col: str = "_op", branch: str | None = None,
                **write_kwargs) -> None:
    """One CDC batch: rows tagged OP_INSERT/OP_DELETE in `op_col`, applied
    in row order (a monotonic _seq breaks ties within the batch).

    Equivalent to DeltaWriter::write(ops, batch) + commit
    (/root/reference/icelake/src/io_v2/input_wrapper.rs:12-97 and
    tests/delta_test_v2.rs:209-226).
    """
    from .transaction import Transaction
    from .write import write_data_files

    schema = table.schema()
    if key_cols is None:
        key_cols = [schema.name_by_id(fid) for fid in schema.identifier_field_ids]
    if not key_cols:
        raise ValueError("merge_delta requires key columns "
                         "(identifier_field_ids or key_cols=)")

    # persist the KEYED frame before any action: the insert write and
    # the eq-delete write both read `__seq`, `__rn` and `__del`, and
    # monotonically_increasing_id is non-deterministic across
    # re-evaluations — without the cache the "last event per key"
    # winner could differ between the two jobs. Caching after the
    # window also runs its key shuffle and sort once for both jobs.
    # The window covers EVERY row of the key, OP_APPEND rows included:
    #   __rn  — 1 for the last event per key, which decides survival
    #           of the KEYED ops;
    #   __del — whether any event of the key was a DELETE.
    # OP_APPEND rows carry NO key discipline (MERGE's not-matched lane
    # proved the key absent): ALL of them append, including
    # duplicate-key source rows, exactly as Spark SQL MERGE inserts
    # every unmatched source row (review r12 — the dedup window
    # silently collapsed them)
    w_key = Window.partitionBy(*key_cols)
    op = F.col(op_col)
    keyed = (df.withColumn("__seq", F.monotonically_increasing_id())
             .withColumn("__rn", F.row_number().over(
                 w_key.orderBy(F.desc("__seq"))))
             .withColumn("__del", F.max(op == OP_DELETE).over(w_key))
             .persist())
    try:
        last = F.col("__rn") == 1
        inserts = (keyed.where((last & (op == OP_INSERT))
                               | (op == OP_APPEND))
                   .drop("__seq", "__rn", "__del", op_col))

        # every key that saw a DELETE needs an equality delete against
        # prior snapshots (J3; same-sequence data is unaffected by spec
        # rule data_seq < delete_seq, so this cannot cancel this batch's
        # inserts), and so does every key whose last event re-inserts
        # it (OP_INSERT supersedes prior snapshots' rows; OP_APPEND
        # deliberately does not — see the constant's comment). Taking
        # the key's `__rn == 1` row yields each such key exactly once.
        # An EMPTY table has no prior snapshots — skip delete files
        # entirely (they could never match, and a v1 table's initial
        # load would otherwise die on the v2-only check)
        eq_keys = (keyed.where(last & (F.col("__del") | (op == OP_INSERT)))
                   .select(*key_cols))
        # prior-row visibility is judged at the COMMIT TARGET's head:
        # a branch commit eq-deletes against the branch's rows (a
        # missing branch forks from current, same as Transaction)
        if branch:
            _r = table.metadata.refs.get(branch)
            head = (table.metadata.snapshot_by_id(_r.snapshot_id)
                    if _r else table.current_snapshot())
        else:
            head = table.current_snapshot()
        tx = Transaction(table, branch=branch)

        # the write pass is its own emptiness probe (r13, the MoR
        # delete_rows pattern): zero-row outputs are dropped and return
        # [] — each old take(1) pre-probe was a full extra evaluation
        # of the keyed window over the batch
        def _write_inserts():
            return write_data_files(table, inserts, **write_kwargs)

        def _write_eq_deletes():
            if head is None:
                return []
            return write_equality_delete_files(table, eq_keys, key_cols)

        # the two write jobs are independent (separate stage dirs,
        # both over the persisted keyed frame) — overlap them (guide §2.6,
        # VERDICT r13 #3) instead of paying two serial job rounds
        ins_files, del_files = _overlap(df.sparkSession, _write_inserts,
                                        _write_eq_deletes)
        if ins_files:
            tx.add_data_files(ins_files)
        if del_files:
            tx.add_delete_files(del_files)
        tx.commit("overwrite" if head is not None else "append")
    finally:
        keyed.unpersist()


def upsert(table, df: DataFrame, key_cols: list[str] | None = None,
           branch: str | None = None, **write_kwargs) -> None:
    """INSERT-or-REPLACE by key: all rows are upserts (W8 with all-INSERT
    ops); prior rows with matching keys are equality-deleted."""
    merge_delta(table, df.withColumn("_op", F.lit(OP_INSERT)),
                key_cols=key_cols, op_col="_op", branch=branch,
                **write_kwargs)


def _row_level_dml(table, spark, condition: str,
                   assignments: dict[str, str] | None,
                   branch: str | None) -> None:
    """The one row-level DML pipeline behind delete_rows (`assignments`
    None) and update_rows: plan the scan, persist the live working set,
    choose copy-on-write or merge-on-read, write, commit once. DELETE
    and UPDATE differ only in the row function `_rows` (DELETE keeps
    the survivors, UPDATE projects the SET expressions) and in MoR
    UPDATE's extra write of the updated copies."""
    from .fileio import norm_path
    from .planning import canon_data_path, canon_data_path_col
    from .table import _check_canon_collisions
    from .transaction import Transaction
    from .write import write_data_files

    update = assignments is not None
    # a branch target reads the BRANCH's visible rows (the branch
    # must exist — read-modify DML cannot implicitly fork) and commits
    # only to that branch. `filter=` only prunes the plan (files that
    # cannot match are never read); the working set below is read
    # through read_mapped, which applies no row filter
    scan = table.new_scan(apply_deletes=True, filter=condition,
                          **({"ref": branch} if branch else {}))
    data, pos_t, eq_t = scan.plan_files(spark)
    if not data:
        return
    spark_schema = table.schema().to_spark()

    # reject canon collisions up front (review r12): with no existing
    # delete files the read path's guard never runs in the DML plane,
    # and a last-entry-wins canon_to_recorded dict silently mapped
    # matching rows from one file onto ANOTHER file — an incomplete
    # CoW DELETE or ambiguous MoR position deletes
    _check_canon_collisions(data)
    # Spark's JVM path spelling (file:/..., s3a://) maps back to the
    # manifest-recorded path via the location-independent canon form
    canon_to_recorded = {canon_data_path(t.data_file.file_path):
                         t.data_file.file_path for t in data}

    def _recorded_files(df_) -> list[str]:
        """The distinct manifest-recorded paths of `df_`'s rows."""
        return [canon_to_recorded.get(canon_data_path(r.f), r.f) for r in
                df_.select(F.col("__file").alias("f")).distinct().collect()]

    def _recorded_paths(df_, path_col: str):
        """Map a path COLUMN from Spark's JVM spelling back to the
        manifest-recorded spelling (review r12): position-delete file
        CONTENT must record the data file's exact manifest path — a
        spec-exact external reader compares verbatim, and file:/ or
        s3a:// spellings would leave its deletes silently unapplied."""
        m = canon_to_recorded
        if not m:
            return df_
        if len(m) <= 200:
            mp = F.create_map(*[F.lit(x) for kv in m.items() for x in kv])
            return df_.withColumn(path_col, F.coalesce(
                mp[canon_data_path_col(F.col(path_col))],
                F.col(path_col)))
        side = spark.createDataFrame(
            sorted(m.items()), "__ck string, __rec string")
        return (df_.withColumn("__ck",
                               canon_data_path_col(F.col(path_col)))
                .join(F.broadcast(side), on="__ck", how="left")
                .withColumn(path_col,
                            F.coalesce("__rec", F.col(path_col)))
                .drop("__ck", "__rec"))

    def _live(tasks_, keep_helpers: bool) -> DataFrame:
        """Read tasks with existing pos/eq deletes APPLIED through the
        table's read_mapped (matching raw files would resurrect rows
        already deleted or superseded by an upsert in a prior snapshot,
        and every file must bind its columns by the table's rule —
        field id, or current then former name)."""
        df_ = scan.read_mapped(spark, table.schema(), spark_schema,
                               tasks_, with_position=True)
        if pos_t or eq_t:
            df_ = scan._apply_deletes(spark, df_, tasks_, pos_t, eq_t,
                                      drop_helpers=not keep_helpers)
        elif not keep_helpers:
            df_ = df_.drop("__file", "__pos")
        return df_

    def _rows(df: DataFrame, only_matching: bool) -> DataFrame:
        """The row function. DELETE: the survivors. UPDATE: the SET
        expressions projected over old values (cast to the column's
        declared type); when rewriting a whole file, non-matching rows
        pass through via CASE WHEN."""
        if not update:
            # SQL DELETE keeps rows where the condition is NULL, so the
            # survivor filter must be NOT(coalesce(cond, false)) — a bare
            # NOT(cond) silently drops NULL-condition rows (data loss)
            return df.where(f"NOT coalesce(({condition}), false)")
        cols = []
        for f in spark_schema.fields:
            if f.name in assignments:
                new = F.expr(assignments[f.name]).cast(f.dataType)
                cols.append((new if only_matching else
                             F.when(F.expr(condition), new)
                             .otherwise(F.col(f.name))).alias(f.name))
            else:
                cols.append(F.col(f.name))
        return df.select(*cols)

    def _cow_rewrite(tx: Transaction, affected: list[str]) -> None:
        """Rewrite `affected` files through the row function."""
        keys = {norm_path(a) for a in affected}
        tasks = [t for t in data
                 if norm_path(t.data_file.file_path) in keys]
        rewritten = (_rows(_live(tasks, keep_helpers=False),
                           only_matching=False)
                     .repartition(max(1, len(affected))))
        tx.remove_data_files(affected)
        tx.add_data_files(write_data_files(table, rewritten))

    props = table.metadata.properties
    mode = props.get("write.update.mode" if update else "write.delete.mode",
                     "merge-on-read")
    # persist: the working set feeds several jobs (match collect,
    # pos-delete write, updated-copy write, CoW fallback collect) —
    # each would otherwise re-read every data file and re-apply
    # deletes, and a non-deterministic condition could delete one row
    # set while a sibling job sees another; for UPDATE that is actively
    # dangerous, because the pos-delete write and the updated-copy
    # write would evaluate it independently (delete one row set, append
    # a different one). The merge_delta precedent; review r11
    # the match is evaluated BEFORE the cache: Spark's cached-batch
    # pruning compares NaN column bounds as numbers and drops NaN rows
    # from `x > 5`, which a filter over the cache would silently keep
    raw = _live(data, keep_helpers=True).withColumn(
        "__match", F.expr(f"coalesce(({condition}), false)")).persist()
    try:
        matched = raw.where("__match")
        tx = Transaction(table, branch=branch)
        # copy-on-write: v1 always — its manifests cannot encode delete
        # files — or by the table's mode property
        if table.metadata.format_version == 1 or mode == "copy-on-write":
            affected = _recorded_files(matched)
            if affected:
                _cow_rewrite(tx, affected)
                tx.commit("overwrite")
            return

        # merge-on-read: position deletes for parquet files; non-parquet
        # files (no row_index in Spark) fall back to copy-on-write in the
        # SAME commit
        pq_matches = matched.where(F.col("__pos").isNotNull())
        sel = [F.col("__file").alias("file_path"), F.col("__pos").alias("pos")]
        if props.get("write.position-delete.include-row", "false") == "true":
            # spec's optional row payload (CDC replay / audit readers):
            # UPDATE's position deletes carry the PRE-image too, so
            # audit/CDC readers see old values for updates as well
            sel.append(F.struct(
                *[f.name for f in spark_schema.fields]).alias("row"))
        # the writes are their own emptiness probe (r13): zero-row
        # outputs are dropped by the writer tree's registration tail,
        # so an empty match yields [] — the old take(1) pre-probe was a
        # full extra pass over the matched set just to learn what the
        # write pass discovers anyway. The pos-delete write, UPDATE's
        # updated-copy write and the non-parquet fallback collect are
        # independent jobs over the persisted matched set — overlap them
        # (guide §2.6, VERDICT r13 #3)
        jobs = [lambda: write_position_delete_files(
                    table, _recorded_paths(pq_matches.select(*sel),
                                           "file_path")),
                lambda: _recorded_files(matched.where(
                    F.col("__pos").isNull()))]
        if update:
            updated = _rows(pq_matches.drop("__file", "__pos"),
                            only_matching=True)
            jobs.append(lambda: write_data_files(table, updated))
        pos_files, non_pq_files, *updated_files = _overlap(spark, *jobs)
        if not pos_files and not non_pq_files:
            return
        if pos_files:
            tx.add_delete_files(pos_files)
            for files in updated_files:  # UPDATE's copies of those rows
                tx.add_data_files(files)
        if non_pq_files:
            _cow_rewrite(tx, non_pq_files)
        tx.commit("overwrite" if update or non_pq_files else "delete")
    finally:
        raw.unpersist()


def delete_rows(table, spark, condition: str,
                branch: str | None = None) -> None:
    """Row-level DELETE WHERE.

    Mode selection follows the `write.delete.mode` table property (the
    same property the reference's Spark-side tests set,
    delta_test_v2.rs:116): `merge-on-read` (v2 default) emits
    position-delete files (J4 write side) with no data rewritten;
    `copy-on-write` (v1 always — its manifests cannot encode delete
    files) rewrites the files containing matches without those rows.
    """
    _row_level_dml(table, spark, condition, None, branch)


def update_rows(table, spark, condition: str,
                assignments: dict[str, str],
                branch: str | None = None) -> None:
    """Row-level UPDATE ... SET — the write-side composition the
    reference leaves to the engine (its Spark tests run UPDATE through
    Spark SQL; icelake only supplies the delete/data writers W1-W3).

    Assignments are SQL expressions evaluated against the OLD row
    (standard UPDATE semantics; results cast to the column's declared
    type). Mode follows `write.update.mode`: `merge-on-read` (default)
    position-deletes the matched rows and appends their updated copies
    in one commit; `copy-on-write` (and always v1, whose manifests
    cannot encode delete files) rewrites affected files in place.
    """
    bad = set(assignments) - {f.name for f in table.schema().fields}
    if bad:
        raise ValueError(f"unknown columns in SET: {sorted(bad)}")
    _row_level_dml(table, spark, condition, assignments, branch)


def _merge_cardinality_check(source: DataFrame, tgt_keys: DataFrame,
                             on: list[str]) -> None:
    """SQL MERGE cardinality contract (code-review r9):

    - multiple SOURCE rows matching one target key is an error (Spark
      raises the same — the clause result would be nondeterministic);
    - duplicate-key TARGET rows matched by a source row fail loudly:
      the equality-delete lowering deletes BY KEY and re-inserts one
      row, silently collapsing duplicates that Spark MERGE would
      update independently. Until per-row (position-delete) matched
      updates exist, refusing beats silent row loss.

    Cost: two key-projection aggregates pruned to matched keys (one
    extra job each, map-side combined). NULL keys never match by SQL
    semantics and are exempt (the null-unsafe semi-join drops them)."""
    skeys = source.select(*on)
    dup_src = (skeys.groupBy(*on).count().where("count > 1")
               .join(tgt_keys.distinct(), on=on, how="left_semi"))
    if dup_src.take(1):
        raise ValueError(
            "MERGE: multiple source rows match the same target key; "
            "deduplicate the source on the merge key first")
    dup_tgt = (tgt_keys.groupBy(*on).count().where("count > 1")
               .join(skeys.distinct(), on=on, how="left_semi"))
    if dup_tgt.take(1):
        raise ValueError(
            "MERGE: the target holds multiple rows for a matched key; "
            "the equality-delete lowering would collapse them to one "
            "row — deduplicate the target (or merge on a unique key)")


# a MERGE clause's action as a merge_delta op: UPDATE replaces the
# row (eq-delete old + insert new), DELETE removes it
_CLAUSE_OP = {"update": OP_INSERT, "delete": OP_DELETE}


def _dispatch(clauses: list[tuple], then, on_index: bool = False):
    """First-match-wins clause dispatch, the one CASE WHEN builder of
    every MERGE lowering: over `(action, condition, assignments)`
    clauses, branch i is taken when clause i's condition holds (a None
    condition always does) or, with `on_index`, when the row's
    `__clause` index — itself a dispatch — is i; its value is
    then(i, action, assignments). NULL when no branch is taken."""
    out = None
    for i, (action, cond, sets) in enumerate(clauses):
        if on_index:
            c = F.col("__clause") == i
        else:
            c = F.expr(cond) if cond is not None else F.lit(True)
        v = then(i, action, sets)
        out = F.when(c, v) if out is None else out.when(c, v)
    return out


def _clause_rows(df: DataFrame, clauses: list[tuple], spark_schema,
                 on: list[str], key_side: str, value) -> DataFrame:
    """merge_delta input rows from `df` and its `__clause` index: the
    merge keys from alias `key_side`, every other column dispatched to
    its clause's value(action, assignments, name) and cast to the
    column's type, and the clause's `_op`."""
    cols = [F.col(f"{key_side}.{f.name}").alias(f.name) if f.name in on
            else _dispatch(clauses, lambda _i, a, s, n=f.name: value(a, s, n),
                           on_index=True).cast(f.dataType).alias(f.name)
            for f in spark_schema.fields]
    op = _dispatch(clauses, lambda _i, a, _s: F.lit(_CLAUSE_OP[a]),
                   on_index=True)
    return df.select(*cols, op.alias("_op"))


def merge(table, spark, source: DataFrame, on: list[str],
          when_matched: str | None = "update",
          matched_condition: str | None = None,
          when_not_matched: str | None = "insert",
          matched_clauses: list[tuple] | None = None,
          insert_cols: tuple[list[str], list[str]] | None = None,
          by_source_clauses: list[tuple] | None = None,
          branch: str | None = None) -> None:
    """MERGE INTO semantics over the delta writer (the SQL-DML face of
    W7/W8): source rows whose keys exist in the target are updated
    (replace: eq-delete old + insert new) or deleted per the matched
    clauses; keys absent from the target insert per `when_not_matched`.
    One transactional commit.

    Matched clauses come in three forms:
    - `when_matched` + `matched_condition`: the single-clause shorthand;
    - `matched_clauses=[(action, condition), ...]`: ORDERED conditional
      clauses with first-match-wins semantics (Spark/Iceberg `MERGE
      INTO ... WHEN MATCHED AND c1 THEN ... WHEN MATCHED AND c2 THEN
      ...`): each matched source row takes the first clause whose
      condition holds; rows matching no clause are untouched. A None
      condition always matches (so only the last clause may omit it,
      as in Spark).
    - `matched_clauses=[(action, condition, assignments), ...]` where
      `assignments` is a dict {col: sql_expr} for COLUMN-LEVEL
      `UPDATE SET col = expr`: unset columns keep the TARGET row's old
      value (standard MERGE semantics). Expressions and conditions may
      reference both sides via the `t.` (target) and `s.` (source)
      qualifiers. Whole-row clauses pass assignments=None.

    `insert_cols=(names, value_exprs)` makes WHEN NOT MATCHED an
    explicit-column `INSERT (names) VALUES (exprs)`: unmentioned
    columns insert NULL; exprs evaluate against the source row.

    `by_source_clauses=[(action, condition, assignments), ...]` are
    `WHEN NOT MATCHED BY SOURCE` clauses (Spark 3.4 / Iceberg): they
    act on TARGET rows whose key has no source match — `delete`
    removes them, `update` rewrites them via target-only SET
    assignments. First-match-wins like matched clauses.

    Whole-row-only merges read ONLY the target's key projection (a
    broadcast semi/anti join — a small merge into a huge table never
    scans non-key columns). Column-level clauses necessarily join the
    full target rows (unset columns keep old values); Spark/AQE
    broadcasts the small source side. Clause dispatch is one CASE WHEN
    column either way, not one pass per clause.
    """
    if matched_clauses is None:
        if when_matched not in ("update", "delete", None):
            raise ValueError("when_matched must be update|delete|None")
        matched_clauses = ([] if when_matched is None else
                           [(when_matched, matched_condition)])
    # normalize 2-tuples (action, cond) to (action, cond, None)
    matched_clauses = [(c if len(c) == 3 else (c[0], c[1], None))
                       for c in matched_clauses]
    for i, (action, cond, sets) in enumerate(matched_clauses):
        if action not in ("update", "delete"):
            raise ValueError(f"matched clause action must be update|delete, "
                             f"got {action!r}")
        if cond is None and i != len(matched_clauses) - 1:
            raise ValueError("only the last WHEN MATCHED clause may omit "
                             "its condition (first-match-wins)")
        if sets and action != "update":
            raise ValueError("assignments only valid on update clauses")
    if when_not_matched not in ("insert", None):
        raise ValueError("when_not_matched must be insert|None")
    if insert_cols is not None and when_not_matched != "insert":
        raise ValueError("insert_cols requires when_not_matched='insert'")
    by_source_clauses = [(c if len(c) == 3 else (c[0], c[1], None))
                         for c in (by_source_clauses or [])]
    for i, (action, cond, sets) in enumerate(by_source_clauses):
        if action not in ("update", "delete"):
            raise ValueError(f"by-source clause action must be "
                             f"update|delete, got {action!r}")
        if action == "update" and not sets:
            raise ValueError("NOT MATCHED BY SOURCE UPDATE needs SET "
                             "assignments (there is no source row to "
                             "copy from)")
        if cond is None and i != len(by_source_clauses) - 1:
            raise ValueError("only the last NOT MATCHED BY SOURCE clause "
                             "may omit its condition")
    if any(sets for _, _, sets in matched_clauses) or insert_cols is not None \
            or by_source_clauses:
        # BY SOURCE clauses act on full TARGET rows, so they always take
        # the column-level (full-row-join) lowering
        return _merge_column_level(table, spark, source, on,
                                   matched_clauses, when_not_matched,
                                   insert_cols, by_source_clauses,
                                   branch=branch)
    tgt_keys = _merge_target_df(table, spark, branch).select(*on)
    existing = tgt_keys.distinct()
    parts = []
    if matched_clauses:
        _merge_cardinality_check(source, tgt_keys, on)
        matched = source.join(existing, on=on, how="left_semi")
        # first-match-wins: one CASE WHEN picks the clause's op per row
        dispatch = _dispatch(matched_clauses,
                             lambda _i, a, _s: F.lit(_CLAUSE_OP[a]))
        matched = (matched.withColumn("_op", dispatch)
                   .where(F.col("_op").isNotNull()))
        parts.append(matched)
    if when_not_matched == "insert":
        # OP_APPEND, not OP_INSERT: the anti-join proved the key absent
        # (no eq-delete needed), and a NULL-containing key must not
        # emit one (the null-safe read anti-join would delete the
        # target's unrelated NULL-key rows — code-review r9)
        not_matched = source.join(existing, on=on, how="left_anti")
        parts.append(not_matched.withColumn("_op", F.lit(OP_APPEND)))
    if not parts:
        return
    batch = parts[0]
    for p in parts[1:]:
        batch = batch.unionByName(p)
    merge_delta(table, batch, key_cols=on, op_col="_op", branch=branch)


def _merge_target_df(table, spark, branch: str | None):
    """Target frame for MERGE semantics: the branch head when the
    branch exists, else the CURRENT state — merge_delta/Transaction
    document that a missing branch FORKS FROM CURRENT at commit, so
    the matched/not-matched classification must read the same fork
    point; before r11 a MERGE into a not-yet-created branch (the WAP
    staging pattern that upsert/append already support) died with a
    raw KeyError from the ref lookup (review r11)."""
    if branch:
        try:
            return table.to_df(spark, ref=branch)
        except KeyError:
            pass
    return table.to_df(spark)


def _merge_column_level(table, spark, source: DataFrame, on: list[str],
                        matched_clauses: list[tuple],
                        when_not_matched: str | None,
                        insert_cols: tuple[list[str], list[str]] | None,
                        by_source_clauses: list[tuple] | None = None,
                        branch: str | None = None) -> None:
    """Column-level MERGE lowering: `UPDATE SET col = expr` /
    `INSERT (cols) VALUES (exprs)` (the most common real-world MERGE
    shapes — the reference drives the same statements through Spark SQL,
    /root/reference/icelake/tests/delta_test_v2.rs:101-226).

    Because unset columns keep the target's old values, the matched side
    is a full-row inner join target⋈source on the keys (aliases `t` /
    `s` available to every condition and SET expression); the new row is
    one projection with a single CASE-WHEN clause-dispatch column —
    first-match-wins, no per-clause pass over the data. The result feeds
    the same one-commit merge_delta path (eq-delete old + insert new).
    """
    spark_schema = table.schema().to_spark()
    names = {f.name for f in spark_schema.fields}
    for _action, _cond, sets in matched_clauses:
        if not sets:
            continue
        bad = set(sets) - names
        if bad:
            raise ValueError(f"unknown columns in SET: {sorted(bad)}")
        key_sets = set(sets) & set(on)
        if key_sets:
            raise ValueError(
                f"cannot UPDATE SET a merge key column: {sorted(key_sets)}")
    src = source.alias("s")
    tgt = _merge_target_df(table, spark, branch).alias("t")
    parts = []
    if matched_clauses:
        _merge_cardinality_check(
            source, tgt.select(*[F.col(f"t.{k}").alias(k) for k in on]), on)
        jcond = None
        for k in on:
            eq = F.col(f"s.{k}") == F.col(f"t.{k}")
            jcond = eq if jcond is None else jcond & eq
        joined = src.join(tgt, jcond, "inner")
        # first-match-wins: one CASE WHEN picks the clause INDEX per row
        joined = (joined.withColumn("__clause", _dispatch(
                      matched_clauses, lambda i, _a, _s: F.lit(i)))
                  .where(F.col("__clause").isNotNull()))

        def new(action, sets, name):
            if action == "update" and sets is not None:
                return (F.expr(sets[name]) if name in sets
                        else F.col(f"t.{name}"))
            if action == "update":  # whole-row UPDATE SET *
                return F.col(f"s.{name}")
            return F.col(f"t.{name}")  # delete — never written, keep old
        parts.append(_clause_rows(joined, matched_clauses, spark_schema,
                                  on, "s", new))
    if when_not_matched == "insert":
        existing = tgt.select(*on).distinct()
        not_matched = src.join(existing, on=on, how="left_anti")
        if insert_cols is not None:
            ins_names, ins_exprs = insert_cols
            if len(ins_names) != len(ins_exprs):
                raise ValueError("INSERT column list and VALUES arity differ")
            bad = set(ins_names) - names
            if bad:
                raise ValueError(f"unknown INSERT columns: {sorted(bad)}")
            if len(set(ins_names)) != len(ins_names):
                raise ValueError("duplicate INSERT column")
            missing_keys = set(on) - set(ins_names)
            if missing_keys:
                raise ValueError(
                    f"INSERT must set every merge key: {sorted(missing_keys)}")
            by_name = dict(zip(ins_names, ins_exprs))
            proj = [
                (F.expr(by_name[f.name]) if f.name in by_name
                 else F.lit(None)).cast(f.dataType).alias(f.name)
                for f in spark_schema.fields]
            not_matched = not_matched.select(*proj)
        # OP_APPEND: key proven absent; see merge() (code-review r9)
        parts.append(not_matched.withColumn("_op", F.lit(OP_APPEND)))
    if by_source_clauses:
        # WHEN NOT MATCHED BY SOURCE: TARGET rows whose key has no
        # source match — an anti-join the other way around. Only the
        # key projection of the source joins (a small target-cleanup
        # merge never shuffles source payload columns).
        for _a, _c, sets in by_source_clauses:
            bad = set(sets or ()) - names
            if bad:
                raise ValueError(f"unknown columns in SET: {sorted(bad)}")
            if set(sets or ()) & set(on):
                raise ValueError("cannot UPDATE SET a merge key column")
        unmatched = tgt.join(src.select(*[F.col(f"s.{k}").alias(k)
                                          for k in on]).distinct(),
                             on=on, how="left_anti")
        unmatched = unmatched.withColumn("__clause", _dispatch(
            by_source_clauses, lambda i, _a, _s: F.lit(i)))
        # cardinality guard, the BY SOURCE twin of
        # _merge_cardinality_check (review r12): the eq-delete
        # lowering deletes BY KEY, so a clause hitting ANY row of a
        # duplicate-key (or multi-NULL-key) target group would kill
        # the whole group and re-insert only clause winners — silent
        # row loss. Window grouping is NULL-safe by construction.
        wk = Window.partitionBy(*on)
        dup_hit = (unmatched
                   .withColumn("__kn", F.count("*").over(wk))
                   .withColumn("__hit", F.max(
                       F.when(F.col("__clause").isNotNull(), 1)
                       .otherwise(0)).over(wk))
                   .where((F.col("__kn") > 1) & (F.col("__hit") == 1)))
        if dup_hit.take(1):
            raise ValueError(
                "MERGE: a WHEN NOT MATCHED BY SOURCE clause matches a "
                "key with multiple target rows; the equality-delete "
                "lowering would collapse them — deduplicate the "
                "target keys first")
        parts.append(_clause_rows(
            unmatched.where(F.col("__clause").isNotNull()),
            by_source_clauses, spark_schema, on, "t",
            lambda a, s, n: (F.expr(s[n]) if a == "update" and n in s
                             else F.col(f"t.{n}"))))
    if not parts:
        return
    batch = parts[0]
    for p in parts[1:]:
        batch = batch.unionByName(p)
    merge_delta(table, batch, key_cols=on, op_col="_op", branch=branch)
