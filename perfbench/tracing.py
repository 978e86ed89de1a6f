"""Span tracing around the engine's layer entry points.

The benchmark never edits the engine: :class:`Tracer` replaces each
public entry point with a wrapper that records a span (name, parent,
thread, start, end) and tags every Spark job the call submits with a
job group unique to that span. After the measured window the tracer
reads Spark's status store once (``statusStore().jobsList`` /
``stageList``, which work with the UI disabled) and rolls stage metrics
up per span through the job groups.

A layer's self time is its span's wall time minus the part covered by
its child spans; its driver time is the wall time covered by no Spark
job started inside it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict

#: (span name, module path, attribute holder, attribute) of every
#: wrapped entry point; holder None means a module-level function. The
#: live tail's ``replay_batch`` (imported into ``streaming.tailing``) is
#: one trigger; it calls through the traced ``pipeline.replay_batch``.
TARGETS = [
    ("pipeline.replay_batch", "wal_listener_spark.pipeline", None, "replay_batch"),
    ("streaming.tailing.trigger", "wal_listener_spark.streaming.tailing", None, "replay_batch"),
    ("operators.apply.compact_agg", "wal_listener_spark.operators.apply", None, "compact_agg"),
    ("lake.table.merge_batch", "wal_listener_spark.lake.table", "LakeTable", "merge_batch"),
    ("lake.table.append_delta", "wal_listener_spark.lake.table", "LakeTable", "append_delta"),
    ("lake.table.fold_deltas", "wal_listener_spark.lake.table", "LakeTable", "fold_deltas"),
    ("lake.catalog.merge_group", "wal_listener_spark.lake.catalog", "LakeCatalog", "merge_group"),
]
#: spans that write the lake: the outermost of these is the "lake.write" role
LAKE_WRITES = (
    "lake.table.merge_batch",
    "lake.table.append_delta",
    "lake.table.fold_deltas",
    "lake.catalog.merge_group",
)
_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Span:
    __slots__ = ("id", "name", "parent", "t0", "t1", "group", "result", "children", "files")

    def __init__(self, sid: int, name: str, parent: "Span | None"):
        self.id = sid
        self.name = name
        self.parent = parent
        self.t0 = self.t1 = 0.0
        self.group = f"perfbench-{sid}"
        self.result = None
        self.children: list[Span] = []
        self.files = 0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ install
    def install(self) -> None:
        import importlib

        from wal_listener_spark import pipeline

        # import every module first: one imported after a wrap would bind
        # the wrapper (``from ..pipeline import replay_batch``) as original
        mods = [importlib.import_module(t[1]) for t in TARGETS]
        for mod, (name, _, holder, attr) in zip(mods, TARGETS):
            owner = getattr(mod, holder) if holder else mod
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            call = orig
            if name == "streaming.tailing.trigger":
                def call(*a, **k):
                    return pipeline.replay_batch(*a, **k)
            setattr(owner, attr, self._wrap(name, call))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            t_in = time.perf_counter()
            span = tracer._enter(name)
            root = getattr(args[0], "root", None) if args else None
            before = _files(root) if name in LAKE_WRITES and root else None
            t_call = time.perf_counter()
            span.t0 = time.time()
            try:
                span.result = fn(*args, **kwargs)
                return span.result
            finally:
                span.t1 = time.time()
                t_out = time.perf_counter()
                tracer._exit(span)
                if before is not None:
                    span.files = len(_files(root) - before)
                with tracer._lock:  # the tail's triggers run on another thread
                    tracer.overhead_s += (t_call - t_in) + (time.perf_counter() - t_out)

        traced.__wrapped__ = fn
        return traced

    def _enter(self, name: str) -> Span:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            self._ids += 1
            span = Span(self._ids, name, stack[-1][0] if stack else None)
            self.spans.append(span)
        if span.parent is not None:
            span.parent.children.append(span)
        prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
        self.sc.setLocalProperty(_GROUP, span.group)
        self.sc.setLocalProperty(_DESC, name)
        stack.append((span, prev))
        return span

    def _exit(self, span: Span) -> None:
        _, (group, desc) = self._local.stack.pop()
        self.sc.setLocalProperty(_GROUP, group)
        self.sc.setLocalProperty(_DESC, desc)

    # ------------------------------------------------------------ status store
    def status(self) -> tuple[list[dict], dict[int, dict]]:
        """(jobs, stages by id) from the status store, as JSON dicts."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(
            getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        )
        empty = jvm.java.util.ArrayList()
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(empty)))
        stages = json.loads(
            mapper.writeValueAsString(
                store.stageList(empty, False, False, self.sc._gateway.new_array(jvm.double, 0), empty)
            )
        )
        ran = {}
        for s in stages:
            if s["status"] in ("COMPLETE", "FAILED", "ACTIVE") and s["stageId"] not in ran:
                ran[s["stageId"]] = s
        return jobs, ran


class Rollup:
    """Per-span Spark work, attributed through job groups. A stage that
    several jobs list ran in the first of them (later jobs skip it)."""

    def __init__(self, spans: list[Span], jobs: list[dict], stages: dict):
        self.spans = spans
        by_group: dict[str, list[dict]] = defaultdict(list)
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            if j.get("jobGroup"):
                by_group[j["jobGroup"]].append(j)
        self.jobs_of = {s.id: by_group.get(s.group, []) for s in spans}
        owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                owner.setdefault(sid, j["jobId"])
        self.stages_of = {
            s.id: [
                stages[sid]
                for j in self.jobs_of[s.id]
                for sid in j["stageIds"]
                if owner.get(sid) == j["jobId"] and sid in stages
            ]
            for s in spans
        }

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(s.children)
        return out

    def self_s(self, span: Span) -> float:
        return span.wall - _union([(c.t0, c.t1) for c in span.children], span.t0, span.t1)

    def work(self, span: Span, self_only: bool = False) -> dict:
        """Spark work of a span (or of its whole subtree)."""
        spans = [span] if self_only else self.subtree(span)
        jobs = [j for s in spans for j in self.jobs_of[s.id]]
        stages = [st for s in spans for st in self.stages_of[s.id]]
        intervals = [
            (j["submissionTime"] / 1000.0, (j.get("completionTime") or j["submissionTime"]) / 1000.0)
            for j in jobs
            if j.get("submissionTime")
        ]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(st["numTasks"] for st in stages),
            "job_s": _union(intervals, span.t0, span.t1),
            "executor_run_ms": sum(st["executorRunTime"] for st in stages),
            "executor_cpu_ms": sum(st["executorCpuTime"] for st in stages) / 1e6,
            "gc_ms": sum(st["jvmGcTime"] for st in stages),
            "shuffle_write_bytes": sum(st["shuffleWriteBytes"] for st in stages),
            "shuffle_read_bytes": sum(st["shuffleReadBytes"] for st in stages),
            "spill_bytes": sum(st["diskBytesSpilled"] for st in stages),
            "bytes_written": sum(st["outputBytes"] for st in stages),
            "records_written": sum(st["outputRecords"] for st in stages),
        }


def _files(root: str) -> set[str]:
    """Parquet files under a lake root (a table's or a catalog's)."""
    return {
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    }
