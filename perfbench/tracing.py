"""Tracing for the benchmark's traced run (`--trace 1`).

Spans are recorded around the engine's public calls from outside the
package: each wrapped callable is replaced at every attribute that
resolves to it -- module globals bound by `from x import f` at import
time, the defining module's attribute that call-time imports read, and
class attributes for methods. Nothing under `icelake_spark/` is edited;
`uninstall()` puts every original back.

A span records name, layer, start, end, parent span and op id. Spans
stay in memory and are written out once, at exit. A layer's self time
in an op is the part of the op's wall time during which that layer's
span is the innermost one open on any thread, so per op the layer self
times plus the unattributed remainder add up to the op's wall time even
when driver threads overlap two writes.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

UNATTRIBUTED = "unattributed"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        st = self._stack()
        # a driver worker thread (delta._overlap) starts with an empty
        # stack: its spans hang under the span open on the main thread
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        s = {"name": name, "layer": layer,
             "op": self.op_id, "parent": parent["id"] if parent else None,
             "depth": parent["depth"] + 1 if parent else 0,
             "start": time.perf_counter(), "end": None}
        with self._lock:
            s["id"] = len(self.spans)
            self.spans.append(s)
        st.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            st.pop()

    def wrap(self, fn, name: str, layer: str, annotate=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as s:
                out = fn(*args, **kwargs)
                if annotate is not None:
                    annotate(s, args, kwargs, out)
                return out
        traced.__wrapped_original__ = fn
        return traced

    # --------------------------------------------------------- patching

    def patch_function(self, fn, name: str, layer: str, annotate=None) -> None:
        """Replace `fn` at every icelake_spark module attribute bound to it."""
        w = self.wrap(fn, name, layer, annotate)
        for mname, mod in list(sys.modules.items()):
            if not (mname == "icelake_spark" or mname.startswith("icelake_spark.")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, w)

    def patch_method(self, cls, attr: str, name: str, layer: str,
                     annotate=None) -> None:
        raw = cls.__dict__[attr]
        if isinstance(raw, classmethod):
            new = classmethod(self.wrap(raw.__func__, name, layer, annotate))
        else:
            new = self.wrap(raw, name, layer, annotate)
        self._patches.append((cls, attr, raw))
        setattr(cls, attr, new)

    def uninstall(self) -> None:
        for obj, attr, val in reversed(self._patches):
            setattr(obj, attr, val)
        self._patches.clear()

    # -------------------------------------------------------- analysis

    def op_spans(self, op_id: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id and s["end"] is not None]

    @staticmethod
    def attribute(spans: list[dict], start: float, end: float) -> dict[str, float]:
        """Split [start, end] among span names: each elementary interval
        goes to the deepest span open in it (latest start on a tie), or
        to UNATTRIBUTED when none is open. The values sum to end - start."""
        cuts = sorted({start, end, *(min(max(t, start), end) for s in spans
                                    for t in (s["start"], s["end"]))})
        out: dict[str, float] = defaultdict(float)
        for a, b in zip(cuts, cuts[1:]):
            if b <= a:
                continue
            mid = (a + b) / 2
            open_ = [s for s in spans if s["start"] <= mid < s["end"]]
            if open_:
                top = max(open_, key=lambda s: (s["depth"], s["start"]))
                out[top["name"]] += b - a
            else:
                out[UNATTRIBUTED] += b - a
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def wrapper_cost_s(n: int = 20000) -> float:
    """Measured cost of one traced call over a direct call (seconds)."""
    t = Tracer()

    def f():
        return None

    w = t.wrap(f, "f", "x")
    a = time.perf_counter()
    for _ in range(n):
        f()
    b = time.perf_counter()
    for _ in range(n):
        w()
    c = time.perf_counter()
    return max(0.0, ((c - b) - (b - a)) / n)


# ------------------------------------------------------------- Spark jobs


class SparkJobs:
    """Jobs, tasks, stage run time and I/O bytes from Spark's in-process
    status store. Ops run one at a time, so the jobs an op launched are
    the ones whose ids were allocated during its time window; a job whose
    group is not the op's group ran outside it (a driver thread that did
    not inherit the group)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.next_id = self._max_job_id() + 1

    def _max_job_id(self) -> int:
        # the store is fed asynchronously from the listener bus: drain it
        # so that finished jobs and their final stage metrics are in
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        # the store lists jobs ordered by id
        jobs = self.store.jobsList(None)
        if jobs.isEmpty():
            return -1
        return max(jobs.head().jobId(), jobs.last().jobId())

    def begin(self, group: str) -> None:
        self.next_id = self._max_job_id() + 1
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        last = self._max_job_id()
        out = {"jobs": 0, "outside_group": 0, "tasks": 0, "stage_run_s": 0.0,
               "input_bytes": 0, "shuffle_bytes": 0}
        seen_stages: set[int] = set()
        for jid in range(self.next_id, last + 1):
            job = self.store.job(jid)
            out["jobs"] += 1
            g = job.jobGroup()
            if g.isEmpty() or g.get() != group:
                out["outside_group"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # stage never submitted (skipped)
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["stage_run_s"] += st.executorRunTime() / 1000.0
                out["input_bytes"] += st.inputBytes()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
        self.next_id = last + 1
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return out


# ------------------------------------------------------------- storage


def list_files(root: str) -> dict[str, int]:
    """{path: size} of every regular file under root."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out


def registry_diff(before: dict, after: dict) -> dict[str, float]:
    """Per-metric totals (summed over labels) that changed."""
    out = {}
    for name, by_label in after.items():
        prev = before.get(name, {})
        d = sum(v - prev.get(k, 0) for k, v in by_label.items())
        if d:
            out[name] = d
    return out


# ---------------------------------------------------------------- install


def _plan_note(s, args, kwargs, out) -> None:
    scan = args[0]
    # plan_files memoizes per scan instance: a repeat call plans nothing
    if getattr(scan, "_perfbench_planned", False):
        s["cached"] = True
        return
    scan._perfbench_planned = True
    data, pos, eq = out
    snap = scan.table.snapshot(scan.snapshot_id, scan.as_of_ms, scan.ref)
    s["total"] = int(snap.summary.get("total-data-files", len(data))) if snap else 0
    s["kept"] = len(data)
    s["deletes"] = len(pos) + len(eq)
    s["bytes"] = sum(t.data_file.file_size_in_bytes for t in data)


def _result_note(s, args, kwargs, out) -> None:
    s["result"] = out


def install(tr: Tracer) -> None:
    """Wrap the engine's public calls, each at every attribute its
    callers resolve."""
    import icelake_spark.catalog.storage  # noqa: F401  (bind before patching)
    import icelake_spark.datasource  # noqa: F401
    import icelake_spark.planning  # noqa: F401
    from icelake_spark import delta, maintenance, sql, write
    from icelake_spark.table import IcebergTable, TableScan
    from icelake_spark.transaction import Transaction
    from icelake_spark.types import manifest

    tr.patch_method(IcebergTable, "load", "catalog.IcebergTable.load", "catalog")
    tr.patch_method(TableScan, "plan_files", "planning.TableScan.plan_files",
                    "planning", _plan_note)
    tr.patch_method(TableScan, "to_df", "table.TableScan.to_df", "table")
    tr.patch_method(Transaction, "commit", "transaction.Transaction.commit",
                    "transaction")
    funcs = [(write, "write_data_files"), (sql, "execute"),
             (delta, "merge_delta"), (delta, "write_equality_delete_files"),
             (delta, "delete_rows"),
             (manifest, "read_manifest"), (manifest, "read_manifest_list"),
             (manifest, "write_manifest"), (manifest, "write_manifest_list"),
             (maintenance, "rewrite_data_files"), (maintenance, "rewrite_manifests"),
             (maintenance, "expire_snapshots")]
    for mod, attr in funcs:
        layer = mod.__name__.rsplit(".", 1)[-1]
        tr.patch_function(getattr(mod, attr), f"{layer}.{attr}", layer,
                          _result_note if layer == "maintenance" else None)


PER_LAYER_UNITS = {
    "catalog.load_s": "s", "catalog.metadata_json_bytes": "B",
    "planning.plan_s": "s", "planning.manifests_read": "count",
    "planning.data_files_total": "count", "planning.data_files_kept": "count",
    "planning.keep_ratio": "ratio", "planning.delete_files_kept": "count",
    "manifest.read_calls": "count", "manifest.read_s": "s",
    "manifest.write_s": "s", "manifest.bytes_written": "B",
    "table.build_s": "s", "table.action_s": "s",
    "datasource.read_s": "s",
    "spark.jobs_per_op": "count", "spark.jobs_outside_group": "count",
    "spark.tasks": "count", "spark.stage_run_s": "s",
    "spark.input_bytes": "B", "spark.shuffle_bytes": "B",
    "write.data_files_s": "s", "write.files_per_commit": "count",
    "write.mean_file_bytes": "B",
    "transforms.kernel_s": "s",
    "transaction.commit_s": "s", "transaction.conflict_retries": "count",
    "transaction.manifests_per_snapshot": "count",
    "delta.merge_s": "s", "delta.eq_delete_write_s": "s",
    "delta.eq_delete_rows": "count", "delta.delete_rows_s": "s",
    "delta.pos_delete_rows": "count",
    "sql.execute_self_s": "s",
    "maintenance.rewrite_s": "s", "maintenance.files_before": "count",
    "maintenance.files_after": "count", "maintenance.bytes_rewritten": "B",
    "maintenance.expire_s": "s",
    "storage.data_bytes": "B", "storage.delete_bytes": "B",
    "storage.metadata_bytes": "B", "storage.files": "count",
    "storage.bytes_written_per_row": "B",
    "client.read_tail_s": "s", "client.write_tail_s": "s",
    "client.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}

LAYERS = ["catalog", "planning", "manifest", "table", "datasource", "write",
          "transaction", "delta", "sql", "maintenance"]


class LayerTrace:
    """Per-op tracing hooks for the timed phase, and the per-layer metrics
    computed from what they collect."""

    def __init__(self, spark, wl) -> None:
        from icelake_spark.metrics import REGISTRY

        self.spark, self.wl, self.registry = spark, wl, REGISTRY
        self.tracer = wl.tracer = Tracer()
        self.call_cost_s = wrapper_cost_s()
        install(self.tracer)
        self.jobs = SparkJobs(spark)
        self.warehouse = os.path.dirname(os.path.dirname(wl.path))
        self.ops: list[dict] = []

    def begin(self, op_id: int) -> None:
        self._reg = self.registry.snapshot()
        self._files = list_files(self.warehouse)
        self.jobs.begin(f"perfbench-op-{op_id}")
        self.tracer.op_id = op_id

    def end(self, op, t0: float, t1: float) -> None:
        op_id, self.tracer.op_id = self.tracer.op_id, None
        jobs = self.jobs.end(f"perfbench-op-{op_id}")
        spans = self.tracer.op_spans(op_id)
        files = list_files(self.warehouse)
        new = {p: sz for p, sz in files.items() if self._files.get(p) != sz}
        self.ops.append({
            "op": op_id, "kind": op.kind, "name": op.name, "wall_s": t1 - t0,
            "self_s": Tracer.attribute(spans, t0, t1), "spans": len(spans),
            "jobs": jobs, "registry": registry_diff(self._reg, self.registry.snapshot()),
            "new_parquet": [sz for p, sz in new.items()
                            if p.endswith(".parquet") and "/data/" in p],
            "new_manifest_bytes": sum(sz for p, sz in new.items()
                                      if p.endswith(".avro") and "/metadata/" in p),
            "new_bytes": sum(new.values()),
            "kernel_s": self._transform_kernel(op.batch) if op.batch is not None else None,
            **self._table_state(),
        })

    def _transform_kernel(self, batch) -> float:
        """One job evaluating the table's partition transforms over the
        op's input batch, run after the op's clock stopped."""
        from pyspark.sql import functions as F

        from icelake_spark.table import IcebergTable
        from icelake_spark.types.transforms import transform_column

        t = IcebergTable.load(self.wl.path)
        schema = t.schema()
        cols = []
        for i, pf in enumerate(t.metadata.default_spec().fields):
            f = schema.field_by_id(pf.source_column_id)
            cols.append(transform_column(pf.transform, F.col(f.name),
                                         f.field_type).alias(f"p{i}"))
        start = time.perf_counter()
        batch.select(*cols).agg(*[F.max(f"p{i}") for i in range(len(cols))]).collect()
        return time.perf_counter() - start

    def _table_state(self) -> dict:
        """Newest metadata JSON size and the current snapshot's manifest
        count, read through the unwrapped calls."""
        from icelake_spark.table import IcebergTable
        from icelake_spark.types import manifest

        meta = os.path.join(self.wl.path, "metadata")
        versions = [n for n in os.listdir(meta) if n.endswith(".metadata.json")]
        newest = max(versions, key=lambda n: int(n[1:].split(".")[0]))
        read_list = manifest.read_manifest_list
        read_list = getattr(read_list, "__wrapped_original__", read_list)
        t = IcebergTable.load.__func__.__wrapped_original__(IcebergTable, self.wl.path)
        snap = t.current_snapshot()
        return {"metadata_json_bytes": os.path.getsize(os.path.join(meta, newest)),
                "manifests": len(read_list(t._resolve(snap.manifest_list))) if snap else 0}

    def finish(self) -> None:
        self.tracer.uninstall()

    # ------------------------------------------------------------ metrics

    def _named(self, prefix: str) -> list[dict]:
        return [s for s in self.tracer.spans
                if s["op"] is not None and s["name"].startswith(prefix)]

    def metrics(self, recs: list[dict], reads: list[float], writes: list[float],
                rss_mb: float) -> tuple[dict, dict]:
        ops = self.ops
        n = len(ops)

        def self_s(*names: str) -> float:
            return sum(o["self_s"].get(nm, 0.0) for o in ops for nm in names) / n

        def reg(name: str) -> float:
            return sum(o["registry"].get(name, 0) for o in ops)

        def mean(xs) -> float:
            xs = list(xs)
            return sum(xs) / len(xs) if xs else 0.0

        plans = [s for s in self._named("planning.") if not s.get("cached")]
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.tracer.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        rewrites = self._named("maintenance.rewrite_data_files")
        rewrite_plans = [c for r in rewrites for c in children[r["id"]]
                         if c["name"].startswith("planning.") and not c.get("cached")]
        parquet = [sz for o in ops for sz in o["new_parquet"]]
        commits = reg("iceberg_commit_total")
        rows = sum(r["rows"] for r in recs)
        files = list_files(self.wl.path)
        deletes = {p for p in files if "/data/del-" in p}
        read_tail, read_pct = _tail(reads)
        write_tail, write_pct = _tail(writes)
        kernels = [o["kernel_s"] for o in ops if o["kernel_s"] is not None]
        v = {
            "catalog.load_s": self_s("catalog.IcebergTable.load"),
            "catalog.metadata_json_bytes": mean(o["metadata_json_bytes"] for o in ops),
            "planning.plan_s": self_s("planning.TableScan.plan_files"),
            "planning.manifests_read": mean(
                sum(1 for c in children[s["id"]] if c["name"] == "manifest.read_manifest")
                for s in plans),
            "planning.data_files_total": mean(s["total"] for s in plans),
            "planning.data_files_kept": mean(s["kept"] for s in plans),
            "planning.keep_ratio": (sum(s["kept"] for s in plans)
                                    / max(1, sum(s["total"] for s in plans))),
            "planning.delete_files_kept": mean(s["deletes"] for s in plans),
            "manifest.read_calls": len(self._named("manifest.read_")) / n,
            "manifest.read_s": self_s("manifest.read_manifest", "manifest.read_manifest_list"),
            "manifest.write_s": self_s("manifest.write_manifest",
                                       "manifest.write_manifest_list"),
            "manifest.bytes_written": mean(o["new_manifest_bytes"] for o in ops),
            "table.build_s": self_s("table.TableScan.to_df"),
            "table.action_s": self_s("table.action"),
            "datasource.read_s": self_s("datasource.read"),
            "spark.jobs_per_op": mean(o["jobs"]["jobs"] for o in ops),
            "spark.jobs_outside_group": mean(o["jobs"]["outside_group"] for o in ops),
            "spark.tasks": mean(o["jobs"]["tasks"] for o in ops),
            "spark.stage_run_s": mean(o["jobs"]["stage_run_s"] for o in ops),
            "spark.input_bytes": mean(o["jobs"]["input_bytes"] for o in ops),
            "spark.shuffle_bytes": mean(o["jobs"]["shuffle_bytes"] for o in ops),
            "write.data_files_s": self_s("write.write_data_files"),
            "write.files_per_commit": len(parquet) / commits if commits else 0.0,
            "write.mean_file_bytes": mean(parquet),
            "transforms.kernel_s": mean(kernels),
            "transaction.commit_s": self_s("transaction.Transaction.commit"),
            "transaction.conflict_retries": reg("iceberg_commit_conflict_retry_total"),
            "transaction.manifests_per_snapshot": mean(o["manifests"] for o in ops),
            "delta.merge_s": self_s("delta.merge_delta"),
            "delta.eq_delete_write_s": self_s("delta.write_equality_delete_files"),
            "delta.eq_delete_rows": reg("iceberg_eq_delete_qps") / n,
            "delta.delete_rows_s": self_s("delta.delete_rows"),
            "delta.pos_delete_rows": reg("iceberg_pos_delete_qps") / n,
            "sql.execute_self_s": self_s("sql.execute"),
            "maintenance.rewrite_s": self_s("maintenance.rewrite_data_files",
                                            "maintenance.rewrite_manifests"),
            "maintenance.files_before": mean(s["kept"] for s in rewrite_plans),
            "maintenance.files_after": mean(r["result"] for r in rewrites),
            "maintenance.bytes_rewritten": mean(s["bytes"] for s in rewrite_plans),
            "maintenance.expire_s": self_s("maintenance.expire_snapshots"),
            "storage.data_bytes": sum(sz for p, sz in files.items()
                                      if "/data/" in p and p not in deletes),
            "storage.delete_bytes": sum(files[p] for p in deletes),
            "storage.metadata_bytes": sum(sz for p, sz in files.items()
                                          if "/metadata/" in p),
            "storage.files": len(files),
            "storage.bytes_written_per_row": (sum(o["new_bytes"] for o in ops)
                                              / max(1, rows)),
            "client.read_tail_s": read_tail,
            "client.write_tail_s": write_tail,
            "client.peak_rss_mb": rss_mb,
            "trace.overhead_s": self.call_cost_s * mean(o["spans"] for o in ops),
        }
        layer_self = {lay: 0.0 for lay in LAYERS}
        unattributed = 0.0
        residual = 0.0
        for o in ops:
            for nm, sec in o["self_s"].items():
                if nm == UNATTRIBUTED:
                    unattributed += sec
                else:
                    layer_self[nm.split(".")[0]] += sec
            residual = max(residual, abs(sum(o["self_s"].values()) - o["wall_s"]))
        extra = {
            "layer_self_s_per_op": {k: x / n for k, x in layer_self.items()},
            "unattributed_s_per_op": unattributed / n,
            "op_wall_s_mean": mean(o["wall_s"] for o in ops),
            "max_op_sum_residual_s": residual,
            "tail_percentile": {"read": read_pct, "write": write_pct,
                                "read_samples": len(reads), "write_samples": len(writes)},
            "traced_read_p50_s": statistics.median(reads),
            "traced_write_p50_s": statistics.median(writes),
            "wrapper_cost_s_per_call": self.call_cost_s,
        }
        out = {k: {"value": x, "unit": PER_LAYER_UNITS[k]} for k, x in v.items()}
        return out, extra

    def dump(self, path: str, meta: dict) -> None:
        self.tracer.dump(path, {"ops": self.ops, **meta})


def _tail(xs: list[float]) -> tuple[float, int]:
    """The highest percentile with at least 10 samples beyond it (the
    median below 20 samples), and which percentile that is."""
    if not xs:
        return 0.0, 50
    pct = max(50, int(100 * (1 - 10 / len(xs))))
    s = sorted(xs)
    return s[min(len(s) - 1, int(pct / 100 * len(s)))], pct
