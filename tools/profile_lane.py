"""Per-lane profiler: run declared queries with the noop sink (guide
§1.4) inside an event-logged session, then parse the event log into a
per-stage breakdown (wall, task-time, shuffle bytes, python-eval time)
so optimization targets the stage that actually costs time.

Usage: python tools/profile_lane.py QUERY [QUERY ...]
       SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored as in bench.py.

Separate from bench.py on purpose: bench methodology (collect-timed,
same actions) is frozen for cross-round comparability; this tool is
diagnostic only.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/icelake_spark_eventlogs"


def _session():
    """default_session plus event logging. Static confs reach the JVM
    through PYSPARK_SUBMIT_ARGS (as perfbench/run.py passes its own),
    so the profiled plans are default_session's."""
    import icelake_spark

    os.makedirs(EVDIR, exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.eventLog.enabled=true",
        f"--conf spark.eventLog.dir={EVDIR}",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        "pyspark-shell"])
    return icelake_spark.default_session("icelake_spark_profile")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    if not names:
        print("usage: profile_lane.py QUERY [QUERY ...]", file=sys.stderr)
        sys.exit(2)

    from bench import _bench_variants
    from icelake_spark.queries import queries

    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    app_id = sc.applicationId
    qs = {**queries(), **_bench_variants()}

    # warmup as in bench.py so codegen compilation doesn't pollute
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm = "/root/testdata/sf0.001"
    for name in names:
        if os.path.isdir(warm) and warm != sf_dir:
            try:
                qs[name](spark, warm).collect()
            except Exception:
                pass

    marks = []  # (name, t_start_ms, t_build_end_ms, t_end_ms)
    for name in names:
        sc.setJobDescription(f"profile:{name}")
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        sc.setJobDescription(None)
        marks.append((name, t0 * 1000, t1 * 1000, t2 * 1000))
        print(f"# {name}: build {t1 - t0:.3f}s  noop-exec {t2 - t1:.3f}s  "
              f"total {t2 - t0:.3f}s", file=sys.stderr)
    spark.stop()

    # parse the event log: stages attributed to lanes by submission time
    # (Spark 4 rolling layout: eventlog_v2_<appid>/events_*_<appid>*)
    paths = []
    if os.path.exists(os.path.join(EVDIR, app_id)):
        paths = [os.path.join(EVDIR, app_id)]
    else:
        for p in os.listdir(EVDIR):
            full = os.path.join(EVDIR, p)
            if app_id in p and os.path.isfile(full):
                paths.append(full)
            elif app_id in p and os.path.isdir(full):
                paths.extend(os.path.join(full, q) for q in os.listdir(full)
                             if q.startswith("events_"))
    if not paths:
        print("no event log found", file=sys.stderr)
        sys.exit(1)
    lines = []
    for p in sorted(paths):
        with open(p) as f:
            lines.extend(f)
    stages = []
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            if sub is None or comp is None:
                continue
            stages.append({
                "id": si["Stage ID"],
                "name": si.get("Stage Name", ""),
                "sub": sub, "comp": comp,
                "tasks": si.get("Number of Tasks", 0),
            })

    for name, ts, tb, te in marks:
        mine = [s for s in stages if ts <= s["sub"] < te]
        mine.sort(key=lambda s: s["comp"] - s["sub"], reverse=True)
        print(f"\n=== {name}  (build-phase stages end {tb - ts:.0f}ms in)")
        for s in mine[:14]:
            phase = "build" if s["sub"] < tb else "exec "
            print(f"  [{phase}] stage {s['id']:>4} {s['comp'] - s['sub']:>6}ms "
                  f"{s['tasks']:>4}t  {s['name'][:90]}")
        print(f"  stages: {len(mine)}  "
              f"sum-stage-wall {sum(s['comp'] - s['sub'] for s in mine)}ms")


if __name__ == "__main__":
    main()
