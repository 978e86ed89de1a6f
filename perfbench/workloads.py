"""The two workloads: set-up, warm-up, the measured window, and the
state check.

Every workload follows the same shape, driven by :func:`run`:

1. ``prepare`` builds the seeded inputs (counted in ``setup_s``) and
   computes the expected final-state digest with the sequential oracle
   (not counted);
2. ``warm`` runs the measured code path on throwaway work until the JIT
   has settled (counted in ``setup_s``);
3. ``measure`` runs operations until ``seconds`` have passed and returns
   one record per operation (the streaming ``live_tail`` does 2 and 3 in
   ``run_stream``);
4. ``verify`` compares the lake's ``read_public()`` digest with the
   expected one; a mismatch fails every operation of the run.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time

from . import inputs

#: input sizes; "tiny" is the self-test's sf0.001-sized profile
SIZES = {
    "full": {
        "slice_keys": 250,
        "slice_interval_s": 2.5,
        "slice_lead_s": 0.2,
        "slice_settle_s": 0.3,
        "delta_fold_every": 3,
        "catalog_keys": 10_000,
        "catalog_relations": 16,
        "catalog_buckets": 4,
        "catalog_warm": 4,
    },
    "tiny": {
        "slice_keys": 20,
        "slice_interval_s": 2.0,
        "slice_lead_s": 0.2,
        "slice_settle_s": 0.3,
        "delta_fold_every": 3,
        "catalog_keys": 500,
        "catalog_relations": 4,
        "catalog_buckets": 2,
        "catalog_warm": 1,
    },
}


class Op:
    """One measured operation: a replay call or a slice."""

    __slots__ = ("t0", "t1", "events", "changes", "ok", "error")

    def __init__(self, t0: float, t1: float, events: int, changes: int,
                 ok: bool = True, error: str | None = None):
        self.t0, self.t1, self.events, self.changes = t0, t1, events, changes
        self.ok, self.error = ok, error

    @property
    def latency_s(self) -> float:
        """A call: its wall time. A slice: ``t0`` is its due time and
        ``t1`` its first covering commit."""
        return self.t1 - self.t0


class Workload:
    name = ""
    loop = "closed"

    def __init__(self, spark, work: str, seed: int, size: dict, nproc: int, seconds: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.seconds = seconds
        self.nproc = nproc
        self.buckets = 2 * nproc
        self.expected: tuple[int, int, int] | None = None
        self.oracle_s = 0.0
        self.extra: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def set_expected(self, rows: list[dict], fields: list[str]) -> None:
        t = time.perf_counter()
        self.expected = inputs.expected_digest(rows, fields)
        self.oracle_s += time.perf_counter() - t

    def fields(self) -> list[str]:
        return [f for f, _ in inputs.FIELDS] + ["stars"]

    def prepare(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def measure(self) -> list[Op]:
        raise NotImplementedError

    def public_frames(self) -> list:
        """``read_public()`` of every lake this run's measured ops built."""
        raise NotImplementedError

    def verify(self) -> list[bool]:
        """One verdict per lake from :meth:`public_frames`, in one job."""
        from functools import reduce

        from pyspark.sql import functions as F

        frames = [
            df.select(*[F.col(f) if f in df.columns else F.lit(None).alias(f)
                        for f in self.fields()]).withColumn("__lake", F.lit(i))
            for i, df in enumerate(self.public_frames())
        ]
        if not frames:
            return []
        try:
            got = inputs.actual_digests(reduce(lambda a, b: a.unionByName(b), frames),
                                        self.fields())
        except Exception as e:  # noqa: BLE001 - an unreadable lake fails the check
            self.extra["verify_error"] = repr(e)[:300]
            return [False] * len(frames)
        return [got.get(i) == self.expected for i in range(len(frames))]


def _until(deadline: float, step) -> list[Op]:
    """Closed loop: ``step(i)`` prepares operation ``i`` untimed and
    returns ``(run, events, changes)``; ``run()`` is timed. Operations
    run back to back (at least one) while the time left exceeds half of
    the last one, so a run overshoots the deadline by less than one
    operation; one that raises is recorded as failed."""
    ops: list[Op] = []
    while not ops or deadline - time.time() > 0.5 * ops[-1].latency_s:
        run, events, changes = step(len(ops))
        t0 = time.time()
        try:
            run()
            ops.append(Op(t0, time.time(), events, changes))
        except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
            ops.append(Op(t0, time.time(), 0, 0, ok=False, error=repr(e)[:300]))
    return ops


# ----------------------------------------------------------------- catalog

class Catalog(Workload):
    """One wide epoch of the trace, spread over many same-schema
    relations, into an empty catalog; every call rebuilds the same
    state in a fresh catalog."""

    name = "catalog"

    def prepare(self) -> None:
        gen = inputs.TraceGenerator(self.seed, self.size["catalog_relations"])
        rows = [r for g in gen.backfill(self.size["catalog_keys"]) for r in g]
        self.trace_dir = self.path("trace")
        inputs.write_rows(rows, self.trace_dir, n_files=self.nproc)
        self.trace = self.spark.read.parquet(self.trace_dir)
        self.roots: list[str] = []
        self.events = len(rows)
        self.changes = inputs.count_changes(rows)
        self.set_expected(rows, self.fields())

    def fields(self) -> list[str]:
        return [f for f, _ in inputs.FIELDS]

    def step(self, root: str):
        from wal_listener_spark import pipeline
        from wal_listener_spark.config import PipelineConfig
        from wal_listener_spark.lake.catalog import LakeCatalog

        buckets = self.size["catalog_buckets"]

        def run() -> None:
            catalog = LakeCatalog.create(self.spark, root, num_buckets=buckets)
            cfg = PipelineConfig(num_buckets=buckets, selective_buckets=False)
            pipeline.replay_batch(self.trace, catalog, cfg, "catalog")

        return run, self.events, self.changes

    def warm(self) -> None:
        for i in range(self.size["catalog_warm"]):
            root = self.path(f"warm{i}")
            self.step(root)[0]()
            shutil.rmtree(root, ignore_errors=True)

    def measure(self) -> list[Op]:
        def step(i: int):
            self.roots.append(self.path(f"lake{i}"))
            return self.step(self.roots[-1])

        return _until(time.time() + self.seconds, step)

    def public_frames(self) -> list:
        """Every call rebuilds the same state; the last call's lake is checked."""
        from wal_listener_spark.lake.catalog import load_target

        return [load_target(self.spark, self.roots[-1]).read_public()]


# ---------------------------------------------------------------- live tail

class LiveTail(Workload):
    """Transaction-aligned slices land one after another, each once the
    one before it committed, while ``run_live_tail`` commits
    merge-on-read deltas."""

    name = "live_tail"
    loop = "stream"

    def prepare(self) -> None:
        import pyarrow.parquet as pq
        from wal_listener_spark.lake.table import LakeTable

        n_keys = self.size["slice_keys"]
        n_slices = self.n_warm() + self.n_measured()
        # the schema evolves in the second warm slice, so every measured
        # slice carries the same relation version
        groups = inputs.TraceGenerator(self.seed).backfill(n_slices * n_keys, k_evo=n_keys)
        staged = self.path("staged")
        os.makedirs(staged, exist_ok=True)
        self.slices = []
        for i in range(n_slices):
            # slice 0 also carries the control rows (group 0)
            rows = [r for g in groups[i * n_keys + (i > 0): (i + 1) * n_keys + 1] for r in g]
            fn = os.path.join(staged, f"slice-{i:05d}.parquet")
            pq.write_table(inputs.to_table(rows), fn)
            self.slices.append({"file": fn, "rows": rows, "max_lsn": rows[-1]["lsn"],
                                "events": len(rows), "changes": inputs.count_changes(rows)})
        self.feed = self.path("feed")
        os.makedirs(self.feed, exist_ok=True)
        self.root = self.path("lake")
        LakeTable.create(self.spark, self.root, inputs.KEY_COLS, inputs.FIELDS,
                         num_buckets=self.buckets)

    def n_warm(self) -> int:
        """The warm-up appends ``delta_fold_every`` deltas, then its last
        slice folds them, so the fold path is warm too."""
        return self.size["delta_fold_every"] + 1

    def n_measured(self) -> int:
        """The slices that fit in ``seconds``: a slice takes one slice
        interval, a folding one two (its trigger outlasts the interval,
        so the next slice waits for the trigger after)."""
        budget = round(self.seconds / self.size["slice_interval_s"])
        n, used, deltas = 0, 0, 1  # the warm-up's last slice left one delta
        while True:
            fold = deltas >= self.size["delta_fold_every"]
            used += 2 if fold else 1
            if used > budget:
                return max(1, n)
            n += 1
            deltas = 1 if fold else deltas + 1

    def _land(self, i: int) -> float:
        s = self.slices[i]
        os.replace(s["file"], os.path.join(self.feed, os.path.basename(s["file"])))
        return time.time()

    def _applied(self) -> int:
        from wal_listener_spark.lake.table import LakeTable

        try:
            return LakeTable.load(self.spark, self.root).last_applied_lsn
        except (OSError, ValueError):
            return -1

    def _commits(self) -> list[tuple[float, int]]:
        """(commit time, applied LSN) of every snapshot of the table. A
        snapshot's manifest is written once, at its commit, so its mtime
        is the commit time."""
        from wal_listener_spark.lake.table import LakeTable

        out = []
        for v in LakeTable.snapshots(self.root):
            fn = os.path.join(self.root, "manifest", f"v{v}.json")
            with open(fn) as f:
                lsn = json.load(f)["properties"].get("last_applied_lsn", -1)
            out.append((os.path.getmtime(fn), lsn))
        return out

    def run_stream(self, window_start) -> list[Op]:
        """Start the tail, warm it on the first slices, then feed the
        measured slices; ``window_start()`` is called (and returns the
        time) once the warm slices have committed.

        The tail triggers once per slice interval, and Spark starts
        processing-time triggers at whole multiples of the interval on
        the wall clock. The feed is paced: each slice lands
        ``slice_lead_s`` before the first trigger that starts at least
        ``slice_settle_s`` after the previous slice committed. A slice's
        lag is then the lead plus the time the tail takes to commit it,
        with no wait for a trigger's phase and no queue behind an earlier
        slice, so a slow spell of the host stretches it once instead of
        compounding over the following slices."""
        from wal_listener_spark.config import PipelineConfig
        from wal_listener_spark.streaming import tailing

        interval = self.size["slice_interval_s"]
        lead = self.size["slice_lead_s"]
        settle = self.size["slice_settle_s"]
        n_warm = self.n_warm()
        last = len(self.slices) - 1
        until = self.slices[last]["max_lsn"]
        due: dict[int, float] = {}
        landed: dict[int, float] = {}
        state = {"window": None, "error": None}
        stop = threading.Event()

        def await_commit(i: int) -> None:
            while self._applied() < self.slices[i]["max_lsn"]:
                if stop.wait(0.05):
                    raise RuntimeError(f"the tail stopped before slice {i} committed")

        def feeder() -> None:
            try:
                landed[0] = due[0] = self._land(0)
                for i in range(1, last + 1):
                    await_commit(i - 1)
                    now = time.time()
                    if i == n_warm:
                        now = state["window"] = window_start()
                    trigger = math.ceil((now + settle) / interval) * interval
                    due[i] = trigger - lead
                    if stop.wait(max(0.0, due[i] - time.time())):
                        raise RuntimeError("the tail stopped during the feed")
                    landed[i] = self._land(i)
            except Exception as e:  # noqa: BLE001 - reported as a failed run
                state["error"] = repr(e)

        # each trigger's start: the tail calls its module's replay_batch
        # once per trigger and appends a record when the commit is done
        starts: list[float] = []
        replay = tailing.replay_batch

        def timed_replay(*args, **kwargs):
            starts.append(time.time())
            return replay(*args, **kwargs)

        th = threading.Thread(target=feeder, name="perfbench-feeder", daemon=True)
        th.start()
        while not landed and th.is_alive():
            time.sleep(0.01)
        tailing.replay_batch = timed_replay
        try:
            tailing.run_live_tail(
                self.spark, self.feed, self.root, self.path("ckpt"),
                cfg=PipelineConfig(num_buckets=self.buckets, delta_commits=True,
                                   delta_fold_every=self.size["delta_fold_every"]),
                processing_interval=f"{round(interval * 1000)} milliseconds",
                marker_ttl_ms=30_000,
                until_lsn=until, timeout_s=60.0 + 4 * self.seconds, state_partitions=4,
            )
        finally:
            tailing.replay_batch = replay
            stop.set()
            th.join(timeout=30)
        if th.is_alive() or state["error"] or state["window"] is None:
            raise RuntimeError(f"slice feeder failed: {state['error'] or 'did not finish'}")
        # commit times come from the lake, not from the tail's returned
        # records: the tail stops its query as soon as the watermark covers
        # the last slice, and the trigger that committed it can then lose
        # its record. Each window commit that moved the watermark ends a
        # data trigger, which began at the last trigger start before it.
        commits = self._commits()
        busy, prev = [], -1
        for t, lsn in commits:
            if lsn > prev and t > state["window"]:
                busy.append(t - max(s for s in starts if s <= t))
            prev = max(prev, lsn)
        ops = []
        for i in range(n_warm, last + 1):
            done = next((t for t, c in commits if c >= self.slices[i]["max_lsn"]), None)
            if done is None:
                ops.append(Op(due[i], time.time(), 0, 0, ok=False,
                              error="slice never committed"))
            else:
                ops.append(Op(due[i], done, self.slices[i]["events"],
                              self.slices[i]["changes"]))
        self.extra["lateness_ms"] = [
            (landed[i] - due[i]) * 1000 for i in range(n_warm, last + 1)
        ]
        self.extra["commits"] = commits
        self.extra["data_trigger_s"] = busy
        return ops

    def public_frames(self) -> list:
        from wal_listener_spark.lake.table import LakeTable

        self.set_expected([r for s in self.slices for r in s["rows"]], self.fields())
        return [LakeTable.load(self.spark, self.root).read_public()]


WORKLOADS = {w.name: w for w in (LiveTail, Catalog)}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
