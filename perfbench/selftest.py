#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (about sf0.001).

    python3 perfbench/selftest.py

For every workload it runs the command once untraced and once traced and
checks that the last stdout line is strict JSON, that it holds every
listed metric with its unit and a finite number, that the full per-layer
report holds every per-layer figure the benchmark documents, that the
state check passes and that no traced child span exceeds its parent.
Then it corrupts one row of a finished lake and checks that the state
check fails every operation of that run. Exits 1 on any failed check.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
SECONDS = 2


def _expand(spec: str) -> list[str]:
    """``a.{b,c}`` -> ``a.b``, ``a.c``."""
    if "{" not in spec:
        return [spec]
    head, rest = spec.split("{", 1)
    body, tail = rest.split("}", 1)
    return [f"{head}{b}{tail}" for b in body.split(",")]


#: every per-layer figure of the full report (README's layer table)
LAYER_FIGURES = [
    f
    for spec in [
        "pipeline.replay_batch.{calls,wall_ms,self_ms,self_jobs,self_executor_ms}",
        "operators.apply.compact_agg.{calls,plan_ms}",
        "operators.apply.{rows_in,rows_out,collapse_ratio}",
        "lake.table.merge_batch.{calls,wall_ms,driver_ms,jobs,tasks,executor_run_ms,"
        "executor_cpu_ms,shuffle_write_bytes,shuffle_read_bytes,spill_bytes,gc_ms,"
        "bytes_written,files_written,write_amp}",
        "lake.table.append_delta.{calls,wall_ms,jobs}",
        "lake.table.fold_deltas.{calls,wall_ms,bytes_written}",
        "lake.catalog.merge_group.{calls,wall_ms,driver_ms,jobs,tasks,executor_run_ms,gc_ms,"
        "files_written}",
        "lake.write.{wall_ms,driver_ms,executor_run_ms,executor_cpu_ms,gc_ms}",
        "streaming.tailing.{triggers,trigger_ms_p50,assembler_executor_ms,python_cpu_s,"
        "idle_ms}",
        "session.{jvm_cpu_s,python_cpu_s,gc_ms,jobs,stages}",
        "trace.{overhead_frac,coverage_frac,coverage_replay_lake_frac,span_violations}",
    ]
    for f in _expand(spec)
]


def corrupt_one_row(wl) -> None:
    """Change one row's ``content`` in the newest data file of the
    checked lake: a base bucket file or a merge-on-read delta file,
    whichever the last commit wrote. In a delta the row changed is one
    that sets ``content`` (not a delete), so it wins on read."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    root = getattr(wl, "root", None) or wl.roots[-1]
    files = sorted(
        (
            os.path.join(d, f)
            for d, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        ),
        key=os.path.getmtime,
    )
    # the newest files belong to the last commit, so the current snapshot
    for fn in reversed(files):
        tbl = pq.read_table(fn)
        if "content" not in tbl.column_names:
            continue
        content = tbl["content"].to_pylist()
        ops = tbl["op"].to_pylist() if "op" in tbl.column_names else [None] * len(content)
        sets = (tbl["__set_content"].to_pylist() if "__set_content" in tbl.column_names
                else [True] * len(content))
        row = next((i for i, (c, o, k) in enumerate(zip(content, ops, sets))
                    if c is not None and o != "D" and k), None)
        if row is None:
            continue
        content[row] = f"{content[row]}!corrupted"
        i = tbl.column_names.index("content")
        pq.write_table(tbl.set_column(i, "content", pa.array(content, pa.string())), fn)
        # drop the Hadoop checksum sidecar, or the read fails instead of
        # returning the changed row
        crc = os.path.join(os.path.dirname(fn), f".{os.path.basename(fn)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        if pc.sum(pc.equal(pq.read_table(fn)["content"], content[row])).as_py() != 1:
            raise RuntimeError(f"corruption of {fn} did not stick")
        return
    raise RuntimeError(f"no data file to corrupt under {root}")


def _strict(text: str):
    """``json.loads`` that refuses NaN and Infinity."""
    def refuse(name: str):
        raise ValueError(f"not JSON: {name}")

    return json.loads(text, parse_constant=refuse)


def command(workload: str, trace: int) -> tuple[dict, dict]:
    """Run the command line on tiny inputs; (result line, full report)."""
    from perfbench.run import main as run_main

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run_main(["--workload", workload, "--seed", str(SEED), "--seconds", str(SECONDS),
                       "--trace", str(trace), "--size", "tiny"])
    lines = out.getvalue().splitlines()
    if rc != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} trace={trace}: exit {rc}, {len(lines)} stdout lines")
    return _strict(lines[-1]), json.loads(lines[-2])["report"]


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import report
    from perfbench.run import WORKLOADS, run

    end_to_end, per_layer = report.metric_spec()
    problems: list[str] = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    def finite(res: dict) -> list[str]:
        return [k for k, v in res["metrics"].items()
                if not isinstance(v.get("value"), (int, float)) or not math.isfinite(v["value"])]

    for w in WORKLOADS:
        res, _ = command(w, 0)
        check(res["correct"] and res["attempted"] >= 1 and res["failed"] == 0,
              f"{w}: state check passes, {res['attempted']} ops, {res['failed']} failed")
        want = dict(end_to_end)
        got = {k: v.get("unit") for k, v in res["metrics"].items()}
        check(got == want, f"{w}: end-to-end metrics and units {sorted(got)}")
        bad = finite(res)
        check(not bad, f"{w}: every end-to-end value is a finite number {bad}")
        check(res["metrics"]["events_per_s"]["value"] > 0, f"{w}: events_per_s above 0")

        res, rep = command(w, 1)
        check(res["correct"] and res["failed"] == 0, f"{w} traced: state check passes")
        want = dict(per_layer)
        got = {k: v.get("unit") for k, v in res["metrics"].items()}
        check(got == want, f"{w} traced: per-layer metrics and units")
        bad = finite(res)
        check(not bad, f"{w} traced: every per-layer value is a finite number {bad}")
        full = rep["metrics"]
        missing = [f for f in LAYER_FIGURES if f not in full]
        check(not missing, f"{w} traced: full report has every layer figure {missing}")
        check(full.get("trace.span_violations") == 0,
              f"{w} traced: no child span exceeds its parent")

    for w in WORKLOADS:
        res = run(w, SEED, SECONDS, False, "tiny", corrupt=corrupt_one_row)
        check(not res["correct"] and res["failed"] == res["attempted"] >= 1
              and res["report"]["verify_error"] is None,
              f"{w}: a corrupted row fails the state check by digest")

    print(f"{len(problems)} failed check(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
