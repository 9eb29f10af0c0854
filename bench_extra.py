#!/usr/bin/env python
"""Round-6 optimization harness (bench.py is FROZEN for measurement; this
file holds the extra instrumentation the optimization round needs).

Modes:
  plans [suffix]        dump .explain("formatted") for every headline bench
                        query to plans/r06/<name>_<suffix>.txt
                        (suffix default: "before")
  time [names...]       per-query isolated steady timing with BOTH the
                        frozen bench's count() methodology and the noop
                        sink (guide §1.4); prints one JSON line per query
  stages <name>         run one query with the event-log enabled and print
                        a per-stage wall/task-time breakdown (guide §1.1)

Methodology matches bench.py: same session conf, same warmup, clearCache +
gc between draws, median of 3 isolated steady draws.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _spark(event_log_dir: str | None = None):
    from liblevenshtein_rust_spark.session import get_spark
    local_dir = "/dev/shm/lls-spark"
    os.makedirs(local_dir, exist_ok=True)
    conf = {"spark.ui.enabled": "false",
            "spark.driver.memory": "24g",
            "spark.local.dir": local_dir,
            "spark.sql.shuffle.partitions": "64"}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark("lls-bench-extra", master=f"local[{CPUS}]",
                     extra_conf=conf)


def dump_plans(suffix: str = "before") -> None:
    import io
    from contextlib import redirect_stdout

    import __spark_entry__ as em
    import bench
    spark = _spark()
    qs = bench._bench_queries(em)
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    for name in bench.HEADLINE:
        spark.catalog.clearCache()
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"# wrote {path}", file=sys.stderr)
    spark.catalog.clearCache()


def time_queries(names: list[str] | None = None) -> None:
    import __spark_entry__ as em
    import bench
    spark = _spark()
    qs = bench._bench_queries(em)
    bench._warmup(spark, em)
    names = names or bench.HEADLINE
    for name in names:
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext.setJobDescription(f"{name}: cold")
        t0 = time.time()
        n = qs[name](spark, SF_DIR).count()
        cold = time.time() - t0

        def draw(kind: str) -> float:
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext.setJobDescription(f"{name}: steady {kind}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            if kind == "count":
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            return time.time() - t0

        counts = [draw("count") for _ in range(3)]
        noops = [draw("noop") for _ in range(3)]
        print(json.dumps({
            "query": name, "rows": n, "cold": round(cold, 3),
            "steady_count": round(statistics.median(counts), 3),
            "steady_noop": round(statistics.median(noops), 3),
            "counts": [round(x, 3) for x in counts],
            "noops": [round(x, 3) for x in noops],
        }), flush=True)


def stage_breakdown(name: str) -> None:
    import __spark_entry__ as em
    import bench
    log_dir = "/tmp/lls-eventlog"
    import shutil
    shutil.rmtree(log_dir, ignore_errors=True)
    spark = _spark(event_log_dir=log_dir)
    qs = bench._bench_queries(em)
    bench._warmup(spark, em)
    # one warm draw first (codegen), then the measured draw
    spark.catalog.clearCache()
    qs[name](spark, SF_DIR).count()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext.setJobDescription(f"{name}: measured")
    t0 = time.time()
    t0_ms = int(t0 * 1000)
    qs[name](spark, SF_DIR).count()
    wall = time.time() - t0
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    app_id = spark.sparkContext.applicationId
    spark.stop()
    # parse the event log: stage submit/complete times + task metrics
    import glob
    paths = (sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*")))
             or sorted(glob.glob(os.path.join(log_dir, "*", "events*"))))
    if os.path.isdir(paths[-1]):
        paths = sorted(glob.glob(os.path.join(paths[-1], "events*")))
    stages = {}
    lines = []
    for path in paths:
        if path.endswith((".zstd", ".zst")):
            import subprocess
            out = subprocess.run(["zstd", "-dc", path], capture_output=True)
            lines.extend(out.stdout.decode().splitlines())
        else:
            with open(path) as f:
                lines.extend(f)
    jobs = {}      # job id -> (submit_ms, [stage ids], description)
    stage_task_ms = {}
    for ln in lines:
        try:
            ev = json.loads(ln)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = (
                ev.get("Submission Time"), ev.get("Stage IDs", []),
                (ev.get("Properties") or {}).get(
                    "spark.job.description", "")[:60])
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = {
                "name": si.get("Stage Name", "")[:70],
                "tasks": si.get("Number of Tasks"),
                "wall_ms": ((si.get("Completion Time") or 0)
                            - (si.get("Submission Time") or 0)),
                "submit": si.get("Submission Time"),
            }
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sid = ev.get("Stage ID")
            stage_task_ms[sid] = stage_task_ms.get(sid, 0) + \
                (m.get("Executor Run Time") or 0)
    print(json.dumps({"query": name, "wall_s": round(wall, 3)}))
    for jid in sorted(jobs):
        sub, sids, desc = jobs[jid]
        if sub is None or sub < t0_ms - 500:
            continue
        print(f" job {jid} +{(sub - t0_ms)/1000:6.2f}s  {desc}")
        for sid in sorted(sids):
            s = stages.get(sid)
            if not s or not s["submit"]:
                continue
            off = (s["submit"] - t0_ms) / 1000
            print(f"  stage {sid:>4} +{off:7.2f}s wall={s['wall_ms']:>6}ms "
                  f"tasksum={stage_task_ms.get(sid, 0):>7}ms "
                  f"tasks={s['tasks']:>4} {s['name']}")


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "plans":
        dump_plans(sys.argv[2] if len(sys.argv) > 2 else "before")
    elif mode == "time":
        time_queries(sys.argv[2:] or None)
    elif mode == "stages":
        stage_breakdown(sys.argv[2])
    else:
        raise SystemExit(f"unknown mode {mode}")
