"""Table-format benchmark for icelake_spark.

    python3 perfbench/run.py --workload {scan,cdc,ingest} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout (the directory that holds
`icelake_spark/`). One process, one client, closed loop: each op starts
when the previous one has returned, on a local[N] session with N =
min(4, nproc). Inputs come from --seed alone (perfbench/inputs.py).

Set-up: start the session, build the workload's table three times in
fresh directories (the workload keeps the last), then run one untimed
warm-up cycle (with `warmup_reps` read/write pairs). setup_s = session
start + median build + warm-up.

Timed phase: a fixed number of whole cycles (reps read/write pairs, then
the cycle's maintenance): as many as take --seconds on a quiet 4-core
host, and at least one. Every op's
result is checked against a value computed outside the engine; a
mismatch or an exception counts as a failed op. Before timing, the gate
is shown to trip on a deliberately wrong expected value.

--trace 0 prints the end-to-end metrics; --trace 1 runs the same ops with
spans around the engine's calls (perfbench/tracing.py) and prints the
per-layer metrics. The line before the last is a JSON report with the
run's metadata, sample counts and per-layer self times; the last line is
the result. The warehouse lives in a fresh directory under
.perfbench_work/ that is removed at exit; a traced run leaves its spans
in .perfbench_work/trace-<workload>-<seed>.json.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_BUILDS = 3

END_TO_END = {"setup_s": "s", "read_p50_s": "s", "write_p50_s": "s",
              "rows_per_s": "1/s", "storage_bytes_per_row": "B"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["scan", "cdc", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(tmp: str, cpus: int) -> None:
    """Confine every file Spark and its workers write to `tmp`, and make
    the package importable by Python workers from any directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # the JVM that spark-submit runs to build the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.enabled=false",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={tmp}/spark-local",
        f"--conf spark.sql.warehouse.dir={tmp}/spark-warehouse",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        " -XX:-UsePerfData'",
        "pyspark-shell"])


class Terminated(SystemExit):
    """Raised by the SIGTERM handler. PySpark may wrap it in its own
    exceptions when it lands inside a JVM call, so `seen` records it."""
    seen = False


def _terminate(signum, frame):
    Terminated.seen = True
    raise Terminated(128 + signum)


def descendants(root: int) -> list[int]:
    """Pids of every live process below `root` (the JVM, the PySpark
    worker daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark, kill: bool) -> None:
    """Stop Spark and the JVM it runs in, then wait until every process
    they started has ended. `kill` (the run was terminated) skips the
    graceful stop; a graceful stop that fails falls back to killing."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = descendants(os.getpid())
    if not kill:
        try:
            spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=30)
        except Exception:
            traceback.print_exc()
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def peak_rss_mb(spark) -> float:
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                mb += int(line.split()[1]) / 1024
    return mb


# ------------------------------------------------------------------ run


class Runner:
    def __init__(self, wl):
        self.wl = wl
        self.records: list[dict] = []
        self.warm_lat: list[tuple[str, float]] = []
        self.layer = None

    def run_op(self, op, timed: bool) -> tuple[bool, object]:
        tr = self.layer
        if tr is not None:
            tr.begin(len(self.records))
        t0 = time.perf_counter()
        try:
            result, err = op.run(), None
        except Exception:
            if Terminated.seen:
                raise Terminated(143) from None
            result, err = None, traceback.format_exc()
        t1 = time.perf_counter()
        if tr is not None:
            tr.end(op, t0, t1)
        ok = False
        if err is None:
            try:
                ok = bool(op.check(result))
            except Exception:
                if Terminated.seen:
                    raise Terminated(143) from None
                err = traceback.format_exc()
        if err or not ok:
            print(f"perfbench: op {op.name} failed: {err or 'wrong result'}",
                  file=sys.stderr)
        if not timed:
            self.warm_lat.append((op.name, round(t1 - t0, 4)))
        else:
            self.records.append({"kind": op.kind, "name": op.name, "lat": t1 - t0,
                                 "ok": ok, "rows": op.rows})
        return ok, result

    def cycle(self, reps: int, timed: bool):
        last_read = None
        for op in self.wl.cycle(reps):
            ok, result = self.run_op(op, timed)
            if op.kind == "read" and ok:
                last_read = (op, result)
        return last_read


def bench(spark, args, tmp: str, session_s: float):
    import numpy as np
    import pyarrow
    import pyspark

    import tracing
    import workloads

    wl = workloads.WORKLOADS[args.workload](spark, args.seed, tmp)
    runner = Runner(wl)
    builds = []
    for i in range(SETUP_BUILDS):
        t = time.perf_counter()
        wl.build(i)
        builds.append(time.perf_counter() - t)
    t = time.perf_counter()
    warm = runner.cycle(wl.warmup_reps, timed=False)
    warmup_s = time.perf_counter() - t
    # the gate must reject a deliberately wrong expected value
    gate_trips = (warm is not None and warm[0].check(warm[1])
                  and not warm[0].check(warm[1], wrong=True))
    setup_s = session_s + statistics.median(builds) + warmup_s
    setup_wall_s = time.perf_counter() - T_START

    ticks = cpu_ticks()
    layers = None
    if args.trace:
        layers = tracing.LayerTrace(spark, wl)
        runner.layer = layers
    # a fixed op count, whatever the host's speed: as many whole cycles
    # as fill --seconds on a quiet host, at least one
    cycles = max(1, round(args.seconds / wl.cycle_s))
    for _ in range(cycles):
        runner.cycle(wl.reps, timed=True)
    measured = sum(r["lat"] for r in runner.records)
    steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    if layers is not None:
        layers.finish()

    recs = runner.records
    reads = [r["lat"] for r in recs if r["kind"] == "read"]
    writes = [r["lat"] for r in recs if r["kind"] == "write"]
    failed = sum(1 for r in recs if not r["ok"])
    counts: dict[str, int] = {}
    for r in recs:
        counts[r["name"]] = counts.get(r["name"], 0) + 1
    table_bytes = sum(tracing.list_files(wl.path).values())
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc(), "master": spark.sparkContext.master,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": np.__version__, "python": sys.version.split()[0],
        "cycles": cycles, "ops_per_type": counts,
        "warmup_ops": len(runner.warm_lat),
        "gate_self_check": "tripped" if gate_trips else "DID NOT TRIP",
        "session_s": session_s, "build_s": builds, "warmup_s": warmup_s,
        "setup_wall_s": setup_wall_s, "measured_s": measured,
        # CPU time the hypervisor gave to other guests while we measured
        "cpu_steal_share": steal / total if total else 0.0,
        "samples": {"read": len(reads), "write": len(writes), "all": len(recs)},
        "live_rows": wl.live_rows(), "table_bytes": table_bytes,
        "latencies_s": {name: [round(r["lat"], 4) for r in recs if r["name"] == name]
                        for name in counts},
        "warmup_latencies_s": runner.warm_lat,
    }
    if args.trace:
        out, extra = layers.metrics(recs, reads, writes, peak_rss_mb(spark))
        report.update(extra)
        layers.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), report)
    else:
        values = {
            "setup_s": setup_s,
            "read_p50_s": statistics.median(reads),
            "write_p50_s": statistics.median(writes),
            "rows_per_s": sum(r["rows"] for r in recs) / measured,
            "storage_bytes_per_row": table_bytes / wl.live_rows(),
        }
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    result = {"correct": failed == 0 and gate_trips, "attempted": len(recs),
              "failed": failed, "metrics": out}
    return result, report


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "icelake_spark", "__init__.py")):
        print(f"perfbench: no icelake_spark package in {ROOT}", file=sys.stderr)
        return 2
    # SIGTERM unwinds through the finally below, which kills the JVM
    signal.signal(signal.SIGTERM, _terminate)
    os.makedirs(WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=WORK)
    spark = None
    try:
        cpus = min(4, nproc())
        configure_env(tmp, cpus)
        sys.path[:0] = [ROOT, HERE]
        import icelake_spark

        spark = icelake_spark.default_session(app_name=f"perfbench-{args.workload}",
                                              cpus=cpus, shuffle_partitions=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_START
        result, report = bench(spark, args, tmp, session_s)
    finally:
        try:
            if spark is not None:
                stop_session(spark, kill=Terminated.seen)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
