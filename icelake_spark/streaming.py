"""Structured Streaming ingest into Iceberg tables.

The reference is a batch library; its delta/upsert writers are the
natural `foreachBatch` sink for Spark Structured Streaming (SURVEY
§2.7) — this module is that idiomatic slot: each micro-batch commits
one Iceberg snapshot (append, upsert, or CDC merge), giving exactly-once
table state per epoch via the streaming checkpoint + the table's
optimistic commit.

Also provides event-time helpers (watermarked tumbling/session windows)
that pair with the ingest path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def write_stream(
    table,
    stream_df: DataFrame,
    checkpoint: str,
    mode: str = "append",          # append | upsert | merge
    key_cols: list[str] | None = None,
    op_col: str = "_op",
    trigger_available_now: bool = True,
    processing_time: str | None = None,
    **write_kwargs,
) -> StreamingQuery:
    """Stream into an Iceberg table, one snapshot per micro-batch.

    - append: plain INSERT of each batch (AppendOnlyWriter, W9)
    - upsert: last-wins by key within + across batches (UpsertWriter, W8)
    - merge:  CDC batches carrying op_col 1=INSERT / 2=DELETE (W7)
    """
    from .delta import merge_delta, upsert as _upsert
    from .write import append as _append

    if mode not in ("append", "upsert", "merge"):
        raise ValueError(f"unknown mode {mode!r} (append|upsert|merge)")
    if mode in ("upsert", "merge") and not key_cols:
        ident = table.schema().identifier_field_ids
        if not ident:
            raise ValueError(f"mode={mode!r} requires key_cols")

    # foreachBatch is at-least-once: a crash between the Iceberg commit
    # and the streaming commit log replays the same batch_id. Upsert and
    # merge re-apply to the same final state, but a replayed APPEND would
    # double its rows — so append records the committed epoch in the
    # table properties IN the same commit (the same guard as the DSv2
    # IcelakeStreamWriter) under a checkpoint-scoped key, and skips
    # batch ids at or below it.
    import hashlib

    epoch_prop = ("streaming.last-committed-batch."
                  + hashlib.md5(checkpoint.encode()).hexdigest()[:12])

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.refresh()
        if mode == "append":
            last = int(table.metadata.properties.get(epoch_prop, -1))
            if batch_id <= last:
                return  # replayed epoch already committed
            # merge a caller-supplied properties= into the epoch
            # marker instead of passing both (append() would raise
            # "multiple values for keyword argument" on every batch —
            # review r11)
            extra = dict(write_kwargs)
            props = dict(extra.pop("properties", {}) or {})
            props[epoch_prop] = str(batch_id)
            _append(table, batch_df, properties=props, **extra)
        elif mode == "upsert":
            _upsert(table, batch_df, key_cols=key_cols, **write_kwargs)
        elif mode == "merge":
            merge_delta(table, batch_df, key_cols=key_cols, op_col=op_col,
                        **write_kwargs)
        else:
            raise ValueError(f"unknown mode {mode!r}")

    writer = (stream_df.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint))
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    elif trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(stream_df: DataFrame, ts_col: str = "ts",
                    window: str = "1 hour", watermark: str = "2 hours",
                    group_cols: list[str] | None = None) -> DataFrame:
    """Watermarked tumbling-window counts — late rows beyond the
    watermark are dropped by Spark's state store."""
    g = [F.window(F.col(ts_col), window).alias("win")] + [
        F.col(c) for c in (group_cols or [])]
    return (stream_df.withWatermark(ts_col, watermark)
            .groupBy(*g)
            .agg(F.count("*").alias("n"))
            .select(F.col("win.start").alias("window_start"),
                    *(group_cols or []), "n"))


def session_windows(stream_df: DataFrame, ts_col: str = "ts",
                    gap: str = "30 minutes", watermark: str = "2 hours",
                    key_col: str = "user_id") -> DataFrame:
    """Event-time session windows (F.session_window) — the streaming twin
    of queries.events_sessionize."""
    return (stream_df.withWatermark(ts_col, watermark)
            .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"),
                     F.col(key_col))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("sess.start").alias("session_start"),
                    F.col("sess.end").alias("session_end"),
                    key_col, "n_events"))


def stateful_dedup(stream_df: DataFrame, key_cols: list[str],
                   state_timeout_hours: int = 24) -> DataFrame:
    """Cross-batch streaming dedup: emit only the FIRST row seen per key
    across the whole stream (exactly-once ingest guard for at-least-once
    sources). Custom stateful operator via applyInPandasWithState —
    per-key GroupState holds one flag, expiring after the timeout so
    state stays bounded.

    NOTE: with ProcessingTimeTimeout the query does not self-terminate
    under trigger(availableNow=True) — it stays up to expire state. Call
    `q.stop()` after `q.awaitTermination(timeout)` when batch-draining.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = stream_df.schema
    state_schema = "seen boolean"

    def dedup_fn(key, batches, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        first_emit = not state.exists
        if first_emit:
            state.update((True,))
            state.setTimeoutDuration(state_timeout_hours * 3600 * 1000)
            for pdf in batches:
                if len(pdf) > 0:
                    yield pdf.head(1)
                    return
        else:
            # GroupState cancels the timeout on EVERY invocation for a
            # key — without re-arming here, any key that ever sees a
            # duplicate would keep its state row forever (unbounded
            # state store). Re-arming makes the TTL sliding: state
            # expires after `state_timeout_hours` of silence.
            state.setTimeoutDuration(state_timeout_hours * 3600 * 1000)
            for _ in batches:  # drain; emit nothing for already-seen keys
                pass

    return (stream_df.groupBy(*key_cols)
            .applyInPandasWithState(dedup_fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.ProcessingTimeTimeout))


def append_snapshots(snapshots, skip_overwrites: bool = False) -> list:
    """The one per-snapshot rule of the append-only reads (the
    incremental batch read and `readStream.format("icelake")`): an
    'append' contributes the files it added; 'delete' (a MoR delete adds
    no data files) and 'replace' (compaction) skip LOSSLESSLY. An
    'overwrite' (upsert/MERGE/CoW rewrite) carries NEW rows interleaved
    with rewrites of already-read ones — silently skipping it loses the
    new rows, so it RAISES unless skip_overwrites=True (the caller then
    owns the gap; Iceberg's incremental append scan fails the same way,
    and its streaming source gates the skip behind
    streaming-skip-overwrite-snapshots). Row-level completeness across
    overwrites is changes()' job. Returns the contributing snapshots,
    in the given order."""
    out = []
    for s in snapshots:
        op = (s.summary or {}).get("operation", "append")
        if op == "overwrite" and not skip_overwrites:
            raise ValueError(
                f"incremental append scan: snapshot {s.snapshot_id} "
                f"is an overwrite (upsert/MERGE/CoW) whose new rows "
                f"an append-only scan cannot separate from rewrites "
                f"— pass skip_overwrites=True (read option "
                f"skip_overwrite_snapshots=true) to skip such commits, "
                f"or use changes() for row-level CDC")
        if op == "append":
            out.append(s)
    return out


def incremental_files(table, snapshot_id: int | None = None,
                      to_snapshot_id: int | None = None,
                      skip_overwrites: bool = False) -> list:
    """FileScanTasks (paths resolved) of data files added in the
    ancestry window (snapshot_id, to_snapshot_id] by the snapshots
    `append_snapshots` keeps — the shared walk behind
    table.incremental, stream_from_table, and the DSv2 batch reader's
    start/end-snapshot-id options.

    The window is ancestry-based, not a sequence range: every v1
    snapshot carries sequence 0 (a seq window would return empty
    forever — the same trap changelog.py documents), and ancestry also
    excludes WAP-staged snapshots."""
    from .changelog import _added_in

    if table.current_snapshot() is None:
        return []
    known = {s.snapshot_id for s in table.metadata.snapshots}
    # an EXPIRED/unknown boundary must fail loudly (Iceberg parity:
    # "starting snapshot not found"): ancestry_ids of an unknown id is
    # an empty set, which silently re-returned the table's ENTIRE
    # history — a consumer whose start snapshot expired would
    # re-ingest everything as duplicates (review r11; refresh_rollup
    # already guards this exact case before calling)
    if snapshot_id is not None and snapshot_id not in known:
        raise ValueError(
            f"incremental scan: start snapshot {snapshot_id} not found "
            f"(expired?) — re-sync from scratch or pick a live snapshot")
    if to_snapshot_id is not None and to_snapshot_id not in known:
        raise ValueError(
            f"incremental scan: end snapshot {to_snapshot_id} not found")
    main_ids = table.metadata.ancestry_ids(to_snapshot_id) \
        if to_snapshot_id is not None else table.metadata.ancestry_ids()
    base_ids = (table.metadata.ancestry_ids(snapshot_id)
                if snapshot_id is not None else set())
    # a snapshot outside main_ids is WAP branch-staged: not published
    window = [s for s in sorted(table.metadata.snapshots,
                                key=lambda s: s.timestamp_ms)
              if s.snapshot_id in main_ids and s.snapshot_id not in base_ids]
    return [t for s in append_snapshots(window, skip_overwrites)
            for t in _added_in(table, s)[0]]


def stream_from_table(spark, table,
                      snapshot_id: int | None = None,
                      to_snapshot_id: int | None = None,
                      skip_overwrites: bool = False) -> DataFrame:
    """Incremental read helper: a batch DataFrame of rows added AFTER
    `snapshot_id` (and, when given, up to `to_snapshot_id` inclusive) —
    Iceberg's incremental append scan (the Spark connector's
    start-snapshot-id / end-snapshot-id read options), and the building
    block for table-to-table batch pipelines. (For a continuous source
    use spark.readStream.format("icelake") — datasource.py.)"""
    tasks = incremental_files(table, snapshot_id, to_snapshot_id,
                              skip_overwrites=skip_overwrites)
    spark_schema = table.schema().to_spark()
    if not tasks:
        return spark.createDataFrame([], spark_schema)
    # the scan's own reader: format-aware (reading everything as parquet
    # crashed on write.format.default=orc tables — code-review r9) and
    # binds columns by the table's one rule (binding.py), as in to_df
    # and the DataSource
    return table.new_scan().read_mapped(spark, table.schema(),
                                        spark_schema, tasks)
