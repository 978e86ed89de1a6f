"""Metrics of one run: the end-to-end figures of an untraced run and the
per-layer figures of a traced one.

Process counters come from ``/proc`` (CPU of the Spark JVM, of this
driver process and of the pyspark Python workers, and the JVM's peak
resident set) and from the JVM's garbage-collector beans.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from .tracing import LAKE_WRITES, Rollup, _union
from .workloads import percentile

HZ = os.sysconf("SC_CLK_TCK")


def metric_spec() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(name, unit) of the end-to-end and the per-layer metrics, as
    ``BENCHMARK.json`` at the checkout root lists them. A figure of a
    layer that only one workload runs (``append_delta``, a fold that
    folds something, ``merge_group``, the tail's triggers) reads 0 on
    the other; the ``lake.write`` role carries the lake layer's times on
    both."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        [(m["name"], m["unit"]) for m in spec["end_to_end"]],
        [(m["name"], m["unit"]) for m in spec["per_layer"]],
    )


# ------------------------------------------------------------ process counters

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _cpu_ticks(fields: list[str]) -> int:
    # utime + stime + cutime + cstime (reaped children count too)
    return sum(int(x) for x in fields[11:15])


class Counters:
    """CPU, GC and peak-RSS counters of the Spark JVM and its Python
    side. ``snap()`` returns a point-in-time reading; differences of two
    readings are the window's figures."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def _workers(self) -> list[int]:
        """The pyspark daemon and worker processes: descendants of the JVM."""
        parent = {}
        for p in os.listdir("/proc"):
            if p.isdigit():
                st = _stat(int(p))
                if st is not None:
                    parent[int(p)] = int(st[1])
        tree, grew = {self.pid}, True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        return sorted(tree - {self.pid})

    def reset_peak_rss(self) -> None:
        """Restart the JVM's VmHWM from its current RSS (Linux >= 4.0)."""
        try:
            with open(f"/proc/{self.pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return float("nan")

    def snap(self) -> dict:
        workers = sum(_cpu_ticks(st) for st in map(_stat, self._workers()) if st)
        t = os.times()
        gc = sum(
            int(b.getCollectionTime())
            for b in self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        return {
            "jvm_cpu_s": _cpu_ticks(_stat(self.pid)) / HZ,
            "workers_cpu_s": workers / HZ,
            "driver_cpu_s": t.user + t.system,
            "gc_ms": gc,
        }


def delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


# ------------------------------------------------------------- end to end

def end_to_end(wl, ops, setup_s: float, peak_rss_mb: float) -> dict:
    ok = [o for o in ops if o.ok]
    lat = [o.latency_s * 1000 for o in ok]
    events = sum(o.events for o in ok)
    if wl.loop == "stream":
        # the tail's capacity: events of the measured slices over the wall
        # time of the triggers that applied them (not the feed schedule)
        busy = sum(wl.extra.get("data_trigger_s") or [])
    else:
        busy = sum(o.latency_s for o in ops)
    return {
        "setup_s": setup_s,
        "events_per_s": events / busy if busy > 0 else 0.0,
        "latency_ms_p50": percentile(lat, 50),
        "peak_rss_mb": peak_rss_mb,
    }


# ---------------------------------------------------------------- per layer

def per_layer(wl, ops, tracer, window: tuple[float, float], counters: dict,
              overhead_s: float) -> dict:
    """Every per-layer figure of the run (the full report); the subset
    ``BENCHMARK.json`` lists goes on the result line."""
    w0, w1 = window
    jobs, stages = tracer.status()
    spans = [s for s in tracer.spans if s.t0 >= w0 and s.t1 > 0]
    roll = Rollup(spans, jobs, stages)
    by = defaultdict(list)
    for s in spans:
        by[s.name].append(s)
    m: dict[str, float] = {}

    def ms(x: float) -> float:
        return x * 1000.0

    rb = by["pipeline.replay_batch"]
    self_work = [roll.work(s, self_only=True) for s in rb]
    m["pipeline.replay_batch.calls"] = len(rb)
    m["pipeline.replay_batch.wall_ms"] = ms(sum(s.wall for s in rb))
    m["pipeline.replay_batch.self_ms"] = ms(sum(roll.self_s(s) for s in rb))
    m["pipeline.replay_batch.self_jobs"] = sum(w["jobs"] for w in self_work)
    m["pipeline.replay_batch.self_executor_ms"] = sum(w["executor_run_ms"] for w in self_work)

    ca = by["operators.apply.compact_agg"]
    m["operators.apply.compact_agg.calls"] = len(ca)
    m["operators.apply.compact_agg.plan_ms"] = ms(sum(s.wall for s in ca))

    def upserts_deletes(res) -> int:
        if not isinstance(res, dict):
            return 0
        if "upserts" in res:
            return (res.get("upserts") or 0) + (res.get("deletes") or 0)
        return sum(upserts_deletes(v) for v in res.values() if isinstance(v, dict))

    rows_in = sum(o.changes for o in ops if o.ok)
    rows_out = (
        sum(upserts_deletes(s.result) for s in by["lake.table.merge_batch"])
        + sum(upserts_deletes(s.result) for s in by["lake.catalog.merge_group"])
        + sum(roll.work(s)["records_written"] for s in by["lake.table.append_delta"])
    )
    m["operators.apply.rows_in"] = rows_in
    m["operators.apply.rows_out"] = rows_out
    m["operators.apply.collapse_ratio"] = rows_in / rows_out if rows_out else 0.0

    def lake(name: str, keys: list[str]) -> None:
        sp = by[name]
        works = [roll.work(s) for s in sp]
        tot = defaultdict(float)
        for w in works:
            for k, v in w.items():
                tot[k] += v
        wall = sum(s.wall for s in sp)
        vals = {
            "calls": len(sp),
            "wall_ms": ms(wall),
            "driver_ms": ms(wall - tot["job_s"]),
            "files_written": sum(s.files for s in sp),
            **{k: tot[k] for k in ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
                                   "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
                                   "spill_bytes", "bytes_written")},
        }
        changed = sum(upserts_deletes(s.result) for s in sp)
        vals["write_amp"] = tot["records_written"] / changed if changed else 0.0
        for k in keys:
            m[f"{name}.{k}"] = vals[k]

    lake("lake.table.merge_batch", [
        "calls", "wall_ms", "driver_ms", "jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_ms", "bytes_written",
        "files_written", "write_amp"])
    lake("lake.table.append_delta", ["calls", "wall_ms", "jobs"])
    lake("lake.table.fold_deltas", ["calls", "wall_ms", "bytes_written"])
    lake("lake.catalog.merge_group", [
        "calls", "wall_ms", "driver_ms", "jobs", "tasks", "executor_run_ms", "gc_ms",
        "files_written"])

    # the lake layer as a role: the outermost lake write spans
    outer = []
    for s in spans:
        p = s.parent
        while p is not None and p.name not in LAKE_WRITES:
            p = p.parent
        if s.name in LAKE_WRITES and p is None:
            outer.append(s)
    ow = [roll.work(s) for s in outer]
    wall = sum(s.wall for s in outer)
    m["lake.write.wall_ms"] = ms(wall)
    m["lake.write.driver_ms"] = ms(wall - sum(w["job_s"] for w in ow))
    m["lake.write.executor_run_ms"] = sum(w["executor_run_ms"] for w in ow)
    m["lake.write.executor_cpu_ms"] = sum(w["executor_cpu_ms"] for w in ow)
    m["lake.write.gc_ms"] = sum(w["gc_ms"] for w in ow)

    # the live tail
    trig = by["streaming.tailing.trigger"]
    m["streaming.tailing.triggers"] = len(trig)
    m["streaming.tailing.trigger_ms_p50"] = percentile([ms(s.wall) for s in trig], 50) if trig else 0.0
    m["streaming.tailing.assembler_executor_ms"] = sum(
        _assembler_stage(tracer, roll, s).get("executorRunTime", 0) for s in trig
    )
    m["streaming.tailing.python_cpu_s"] = counters["workers_cpu_s"] if trig else 0.0
    m["streaming.tailing.idle_ms"] = (
        ms((w1 - w0) - _union([(s.t0, s.t1) for s in trig], w0, w1)) if trig else 0.0
    )

    in_window = [j for j in jobs if j.get("submissionTime") and w0 * 1000 <= j["submissionTime"] <= w1 * 1000]
    stage_ids = {sid for j in in_window for sid in j["stageIds"] if sid in stages}
    m["session.jvm_cpu_s"] = counters["jvm_cpu_s"]
    m["session.python_cpu_s"] = counters["driver_cpu_s"] + counters["workers_cpu_s"]
    m["session.gc_ms"] = counters["gc_ms"]
    m["session.jobs"] = len(in_window)
    m["session.stages"] = len(stage_ids)

    # a child span outside its parent, or children longer than it
    m["trace.span_violations"] = sum(
        1
        for s in spans
        if s.children and (
            any(c.t0 < s.t0 or c.t1 > s.t1 for c in s.children)
            or sum(c.wall for c in s.children) > s.wall
        )
    )
    m["trace.overhead_frac"] = overhead_s / (w1 - w0)
    # share of the operations' wall time (the live tail's: its triggers')
    # that some layer span accounts for as self time; the second figure
    # leaves the compaction's planning span out
    base = sum(s.wall for s in trig) if trig else sum(o.latency_s for o in ops)
    selfs = {name: sum(roll.self_s(s) for s in group) for name, group in by.items()}
    layers = sum(v for k, v in selfs.items() if k != "streaming.tailing.trigger")
    m["trace.coverage_frac"] = layers / base if base else 0.0
    m["trace.coverage_replay_lake_frac"] = (
        (layers - selfs.get("operators.apply.compact_agg", 0.0)) / base if base else 0.0
    )
    return m


def _assembler_stage(tracer, roll: Rollup, trigger) -> dict:
    """The stage of a trigger that ran the stateful Python assembler:
    the first whose RDD graph holds a ``StateStoreRDD`` (later stages
    of the trigger read the persisted batch and list it as a parent)."""
    graphs = tracer.sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    store = tracer.sc._jsc.sc().statusStore()
    stages = sorted(
        (st for s in roll.subtree(trigger) for st in roll.stages_of[s.id]),
        key=lambda st: st["stageId"],
    )
    for st in stages:
        if "StateStoreRDD" in graphs.makeDotFile(store.operationGraphForStage(st["stageId"])):
            return st
    return {}
