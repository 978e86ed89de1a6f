#!/usr/bin/env python3
"""CDC engine benchmark: one workload per run.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The engine (``wal_listener_spark/``) is
imported from that checkout; everything the run writes goes under
``.perfbench_work/`` there. With ``--trace 0`` the last stdout line holds
the end-to-end metrics, with ``--trace 1`` the per-layer ones; the lines
before it describe the host and, for a traced run, every per-layer
figure. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("live_tail", "catalog")


def host_info() -> dict:
    """Processors, memory, load and hypervisor steal of this host."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg": load,
        "steal_ticks": _steal_ticks(),
        "t": time.time(),
    }


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def session_env(work: str, nproc: int, mem_total_mb: int) -> dict:
    """Spark settings sized to this host: ``local[nproc]``, a heap of 15%
    of memory and off-heap execution memory of 8% (each clamped), and
    every scratch directory inside the run's work directory."""
    heap_mb = max(1024, min(4096, int(mem_total_mb * 0.15)))
    offheap_mb = max(512, min(2048, int(mem_total_mb * 0.08)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "WAL_OFFHEAP_PER_CORE_G": f"{offheap_mb / nproc / 1024:.4f}",
        "WAL_OFFHEAP_MAX_G": f"{offheap_mb / 1024:.4f}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    }
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": env["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={nproc} -Xms{heap_mb}m "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        # the traced run reads every job and stage of its window back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    return {"env": env, "conf": conf, "heap_mb": heap_mb, "offheap_mb": offheap_mb}


def stop_spark(spark) -> None:
    """Stop Spark and the JVM behind it, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # a later run in this process starts a fresh gateway
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: int, trace: bool, size: str = "full",
        corrupt=None) -> dict:
    """One benchmark run; returns the result object (plus a ``report``
    with the host and every figure). ``corrupt`` is the self-test's hook:
    called with the workload after the window, before the state check."""
    from . import report
    from .workloads import SIZES, percentile
    from .workloads import WORKLOADS as CLASSES

    host0 = host_info()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sized = session_env(work, host0["nproc"], host0["mem_total_mb"])
    os.environ.update(sized["env"])
    tempfile.tempdir = sized["env"]["TMPDIR"]  # gettempdir() caches its first answer

    t_setup0 = time.time()
    from wal_listener_spark.session import get_spark

    spark = get_spark(f"local[{host0['nproc']}]", app_name=f"perfbench-{workload}",
                      extra_conf=sized["conf"])
    try:
        tracer = None
        if trace:
            from .tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        counters = report.Counters(spark)
        wl = CLASSES[workload](spark, work, seed, SIZES[size], host0["nproc"], seconds)
        marks: dict = {"session": time.time()}
        wl.prepare()
        marks["prepare"] = time.time()

        def window_start() -> float:
            counters.reset_peak_rss()
            marks["c0"] = counters.snap()
            marks["oh0"] = tracer.overhead_s if tracer else 0.0
            marks["w0"] = time.time()
            return marks["w0"]

        if wl.loop == "stream":
            ops = wl.run_stream(window_start)
        else:
            wl.warm()
            window_start()
            ops = wl.measure()
        w0, w1 = marks["w0"], time.time()
        c1 = counters.snap()
        peak = counters.peak_rss_mb()
        setup_s = w0 - t_setup0 - wl.oracle_s
        if corrupt is not None:
            corrupt(wl)
        verdicts = wl.verify()
        correct = bool(verdicts) and all(verdicts) and all(o.ok for o in ops)
        failed = len(ops) if not correct else 0
        end_to_end, per_layer = report.metric_spec()
        if tracer is not None:
            full = report.per_layer(wl, ops, tracer, (w0, w1), report.delta(marks["c0"], c1),
                                    tracer.overhead_s - marks["oh0"])
            listed = per_layer
        else:
            full = report.end_to_end(wl, ops, setup_s, peak)
            listed = end_to_end
        metrics = {k: {"value": full[k], "unit": unit} for k, unit in listed}
        # a figure with no samples behind it (NaN) is no measurement: the
        # run fails, and JSON gets null in its place
        for m in metrics.values():
            if not math.isfinite(m["value"]):
                m["value"] = None
                correct, failed = False, len(ops)
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
    host1 = host_info()
    elapsed = host1["t"] - host0["t"]
    host = {
        "nproc": host0["nproc"],
        "mem_total_mb": host0["mem_total_mb"],
        "loadavg_start": host0["loadavg"],
        "loadavg_end": host1["loadavg"],
        "steal_frac": (host1["steal_ticks"] - host0["steal_ticks"])
        / report.HZ / max(elapsed, 1e-9) / (os.cpu_count() or 1),
        "heap_mb": sized["heap_mb"],
        "offheap_mb": sized["offheap_mb"],
    }
    shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
        "report": {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "host": host, "elapsed_s": elapsed, "setup_s": setup_s,
            "oracle_s": wl.oracle_s, "verdicts": verdicts,
            "verify_error": wl.extra.get("verify_error"),
            "setup_phases_s": {
                "session": marks["session"] - t_setup0,
                "prepare": marks["prepare"] - marks["session"],
                "warm": w0 - marks["prepare"],
            },
            "errors": [o.error for o in ops if o.error][:5],
            "ops": len(ops), "op_ms": [round(o.latency_s * 1000, 1) for o in ops],
            "data_trigger_ms": [round(t * 1000, 1) for t in wl.extra.get("data_trigger_s", [])],
            "metrics": full,
            "lateness_ms_p50": percentile(wl.extra.get("lateness_ms") or [0.0], 50),
            "lateness_ms_max": max(wl.extra.get("lateness_ms") or [0.0]),
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is the self-test's")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "wal_listener_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.run import run as run_one

    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    rep = res.pop("report")
    reports = os.path.join(ROOT, ".perfbench_work", "reports")
    os.makedirs(reports, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(reports, name), "w") as f:
        json.dump({**rep, "result": res}, f, indent=1)
    print(json.dumps({"host": rep["host"]}))
    print(json.dumps({"report": rep}))
    print(json.dumps(res, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
