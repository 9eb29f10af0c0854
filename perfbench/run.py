#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the linkage engine.

    python3 perfbench/run.py --workload link_templated --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One driver process, one Spark session at
local[nproc]; each workload is a closed loop with one client (a job
starts after the previous one committed its output). Set-up ends with
WARM_JOBS untimed jobs, so that the timed jobs run past the steep part of
the JIT's warm-up. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs one untraced job, then the same workload once more,
layer by layer, under Spark's event log, and prints the per-layer metrics.
The last stdout line is the result object; the line before it is the run
record (per-job times, steal, set-up time, checks, and the trace record).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# The first job on a fresh JVM takes about three times as long as a warm
# one. It runs on the workload's small input, which loads and compiles
# most of the same code in less time; the last runs on the full input, so
# that the plans AQE picks for that size are compiled too (warming on the
# small input alone leaves the first timed job 10-15% slower). Every run
# pays set-up, so there are no more.
WARM_JOBS = 2


def start_session(cores: int, event_log: bool = False):
    from liblevenshtein_rust_spark.session import get_spark
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed, pre-touched heap: without it peak RSS follows the
        # collector's heap sizing more than the engine's memory use
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Bench:
    """One benchmark process: set-ups, the timed closed loop and checks."""

    def __init__(self, workload_cls, seed: int, cores: int):
        self.wl = workload_cls(WORK, seed)
        self.cores = cores
        self.spark = None
        self.n_jobs = 0
        self.setup_s = self.gen_s = self.setup_steal = 0.0

    def _out_dir(self) -> str:
        self.n_jobs += 1
        return os.path.join(WORK, "runs", f"job_{self.n_jobs:03d}")

    def restart(self, event_log: bool = False, cores: int | None = None):
        """A fresh session (the JVM stays up after the first)."""
        self.stop()
        self.spark = start_session(cores or self.cores, event_log)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self) -> None:
        """Session start, seeded inputs, untimed warm-up jobs."""
        from perfbench.machine import read_proc_stat, steal_share
        st0, t0 = read_proc_stat(), time.perf_counter()
        self.restart()
        g0 = time.perf_counter()
        self.wl.prepare(self.spark)
        self.gen_s = time.perf_counter() - g0
        for i in range(WARM_JOBS):
            out = self._out_dir()
            self.wl.run(self.spark, out, warm=i < WARM_JOBS - 1)
            shutil.rmtree(out, ignore_errors=True)
        self.setup_s = time.perf_counter() - t0
        self.setup_steal = steal_share(st0, read_proc_stat())

    def timed(self, seconds: float) -> list[dict]:
        """Closed loop for ``seconds`` (at least one job): job after job,
        each timed from the entry-point call to its committed output, then
        every output checked. A raised error or a failed check marks the
        job failed."""
        from perfbench.machine import (
            read_proc_stat, steal_pct, steal_share, tree_cpu_s)
        done, t_end = [], time.perf_counter() + seconds
        while not done or time.perf_counter() < t_end:
            out = self._out_dir()
            st0, cpu0 = read_proc_stat(), tree_cpu_s(os.getpid())
            try:
                job_s, err = self.wl.run(self.spark, out), None
            except Exception as e:  # a failed job is a measured outcome
                job_s, err = None, f"{type(e).__name__}: {e}"
            st1, cpu1 = read_proc_stat(), tree_cpu_s(os.getpid())
            done.append({"out": out, "job_s": job_s, "error": err,
                         "cpu_s": cpu1 - cpu0,
                         "steal_pct": steal_pct(st0, st1),
                         "steal_share": steal_share(st0, st1)})
        for job in done:
            if job["error"] is None:
                try:
                    c = self.wl.check(self.spark, job["out"])
                    job.update(ok=c.ok, f1_milli=c.f1_milli, check=c.detail)
                except Exception as e:
                    job.update(ok=False, f1_milli=0,
                               error=f"check {type(e).__name__}: {e}")
            else:
                job.update(ok=False, f1_milli=0)
            shutil.rmtree(job.pop("out"), ignore_errors=True)
        return done


def net_of_steal(wall_s: float, steal_share: float) -> float:
    """Wall seconds scaled by the share of the CPU time the VM wanted that
    the hypervisor gave it: on a shared host the same job's wall time
    moves by tens of percent with the other guests' load, and about half
    of that is time stolen from the VM. Equal to the wall time where
    nothing is stolen."""
    return wall_s * (1.0 - steal_share)


def end_to_end(bench: Bench, jobs: list[dict], peak_rss_mb: float) -> dict:
    # all jobs failed: zeros, and the result reads correct = false
    med = statistics.median(
        [net_of_steal(j["job_s"], j["steal_share"])
         for j in jobs if j["error"] is None] or [0.0])
    return {
        "setup_s": (net_of_steal(bench.setup_s, bench.setup_steal), "s"),
        "job_s": (med, "s"),
        "records_per_s": (bench.wl.records / med if med else 0.0, "1/s"),
        "f1_milli": (min(j["f1_milli"] for j in jobs), "milli"),
        "ok_frac": (sum(j["ok"] for j in jobs) / len(jobs), "fraction"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import liblevenshtein_rust_spark  # noqa: F401  the engine under test
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from perfbench.machine import RssSampler, nproc
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    cores = nproc()
    bench = Bench(WORKLOADS[args.workload], args.seed, cores)
    try:
        with RssSampler() as rss:
            bench.setup()
            # a traced run needs one untraced job only, as the reference
            # for the tracing overhead
            jobs = bench.timed(0 if args.trace else args.seconds)
            if args.trace:
                from perfbench.trace import traced_run
                layers, trace_record = traced_run(bench, jobs, WORK)
        failed = sum(not j["ok"] for j in jobs)
        record = {
            "workload": args.workload, "seed": args.seed, "nproc": cores,
            "records": bench.wl.records,
            "setup_wall_s": bench.setup_s,
            "setup_steal_share": bench.setup_steal,
            "sources_gen_s": bench.gen_s,
            "jobs": jobs,
        }
        if args.trace:
            record["trace"] = trace_record
        else:
            layers = end_to_end(bench, jobs, rss.peak_mb)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        print(json.dumps({"run": record}, default=str))
        print(json.dumps({"correct": failed == 0, "attempted": len(jobs),
                          "failed": failed, "metrics": metrics}))
    finally:
        bench.stop()
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    return 0


def stop_jvm() -> None:
    """End the gateway JVM and the Python workers it forked, and wait for
    all of them, instead of leaving them to die after this process."""
    from pyspark import SparkContext

    from perfbench.machine import descendants, wait_gone
    gw = SparkContext._gateway
    if gw is None or getattr(gw, "proc", None) is None:
        return
    started = descendants(os.getpid())
    gw.shutdown()
    gw.proc.stdin.close()   # the JVM exits on EOF of its stdin
    try:
        gw.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    wait_gone(started, timeout_s=10)


if __name__ == "__main__":
    sys.exit(main())
