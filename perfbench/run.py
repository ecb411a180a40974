"""Benchmark of the hadoop_1_spark engine: one workload, one run.

    python3 perfbench/run.py --workload catalog_floor --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The tables are read from ``data/``; every
file the run writes (Spark local dirs, warehouse, temp files) stays under
``.bench_build/perfbench/``.

Each run starts one fresh driver process (``worker.py``) on
``local[<cores>]``, which times its own set-up (process start to a ready
session) and then runs the workload.

With ``--trace 0`` the run reports the end-to-end metrics; with
``--trace 1`` it runs the same loop under ``tracer.Tracer`` and reports the
per-layer metrics (see ``README.md``). The human-readable report goes to
standard output, one metric per line; the last line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

import clock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 150
DRIVER_MEM = "1g"


def _session_members(sid: int) -> list[int]:
    """Live processes of session ``sid``. Spark's Python worker daemon
    moves to a process group of its own, but stays in the session."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's session and wait for it."""
    proc.kill()
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        pids = _session_members(proc.pid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_worker(args: list[str], env: dict, out: str) -> dict:
    """Run one ``worker.py`` in a session of its own and return its JSON
    result. Whatever the worker leaves running is stopped."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--out", out,
           "--spawned", ",".join(map(str, clock.mark())), *args]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: worker timed out after {WORKER_TIMEOUT_S} s")
    finally:
        _stop_session(proc)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: worker exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def worker_env(work: str) -> dict:
    """Environment that keeps every file a run writes under ``work`` and
    lets Spark's Python workers import the engine from any directory.
    The temporary directories of the previous run are emptied first."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # temp files and the JVM's perf-data file would go to /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def p90(values: list[float]) -> float:
    """90th percentile, linear interpolation between samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def geomean_of_medians(samples: list, k: int) -> float:
    """Geometric mean over the queries of each query's median latency."""
    per: dict[str, list[float]] = {}
    for x in samples:
        per.setdefault(x[0], []).append(x[1 + k])
    return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in per.values()))


def reference_time(r: dict, k: int) -> float:
    """The reference job's median time over the steady passes, read like
    the passes (``k`` as in ``end_to_end``), as the job ran between them
    (README.md, "Reference job")."""
    return statistics.median(r["reference"]) * r["steady_s"][k] / r["steady_s"][0]


def end_to_end(r: dict, k: int) -> dict:
    """End-to-end metrics from reading ``k`` of each ``clock.since`` pair:
    0 for wall time, 1 for wall time less steal (the reported one)."""
    lat = [x[1 + k] for x in r["samples"]]
    ref = reference_time(r, k)
    return {
        "setup_s": (r["setup_s"][k], "s"),
        "queries_per_ref": (len(lat) / r["steady_s"][k] * ref, "1/ref"),
        "query_geomean_ref": (geomean_of_medians(r["samples"], k) / ref, "ref"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }


def per_layer(r: dict) -> dict:
    """Per-layer metrics from the traced steady passes: means per query
    execution unless named otherwise."""
    recs = r["records"]
    n = max(1, len(recs))

    def mean(key: str) -> float:
        return sum(x.get(key, 0) for x in recs) / n

    def count(phase: str, key: str) -> float:
        return sum(x["counts"].get(phase, {}).get(key, 0) for x in recs) / n

    self_s = {
        "session": mean("load_s"),
        "build": mean("build_s") - mean("load_s") - mean("stream_s") - mean("write_s"),
        "catalyst": mean("plan_s"),
        "exec": mean("exec_s"),
        "streaming": mean("stream_s"),
        "sources": mean("write_s"),
    }
    total_self = sum(self_s.values()) or 1.0
    exec_wall = sum(x.get("exec_s", 0) for x in recs)
    exec_task = sum(x["counts"].get("exec", {}).get("task_run_s", 0) for x in recs)
    m = {
        "session.get_spark_s": (r["get_spark_s"], "s"),
        "session.load_table_calls": (mean("load_calls"), "count"),
        "session.load_table_s": (mean("load_s"), "s"),
        "session.load_table_jobs": (count("load", "jobs"), "count"),
        "queries.build_s": (self_s["build"], "s"),
        "queries.py4j_calls": (mean("py4j_calls"), "count"),
        "queries.build_jobs": (count("build", "jobs"), "count"),
        "queries.build_stages": (count("build", "stages"), "count"),
        "catalyst.analyze_s": (mean("analyze_s"), "s"),
        "catalyst.optimize_s": (mean("optimize_s"), "s"),
        "catalyst.plan_s": (mean("planning_s"), "s"),
        "catalyst.plan_nodes": (mean("plan_nodes"), "count"),
        "catalyst.exchanges": (mean("exchanges"), "count"),
        "catalyst.broadcast_exchanges": (mean("broadcast_exchanges"), "count"),
        "exec.s": (mean("exec_s"), "s"),
        "exec.jobs": (count("exec", "jobs"), "count"),
        "exec.stages": (count("exec", "stages"), "count"),
        "exec.tasks": (count("exec", "tasks"), "count"),
        "exec.task_run_s": (count("exec", "task_run_s"), "s"),
        "exec.slot_util": (exec_task / (exec_wall * r["cores"]) if exec_wall else 0.0, "frac"),
        "exec.input_bytes": (count("exec", "input_bytes"), "B"),
        "exec.shuffle_read_bytes": (count("exec", "shuffle_read_bytes"), "B"),
        "exec.shuffle_write_bytes": (count("exec", "shuffle_write_bytes"), "B"),
        "exec.broadcast_bytes_max": (max((x["broadcast_bytes_max"] for x in recs), default=0), "B"),
        "exec.spill_bytes": (count("exec", "spill_bytes"), "B"),
        "exec.gc_s": (count("exec", "gc_s"), "s"),
        "caching.live_rdd_bytes": (max((p["live_rdd_bytes"] for p in r["per_pass"]), default=0), "B"),
        "streaming.run_s": (mean("stream_s"), "s"),
        "streaming.batches": (mean("stream_batches"), "count"),
        "streaming.trigger_s": (mean("stream_trigger_ms") / 1000.0, "s"),
        "streaming.add_batch_s": (mean("stream_add_batch_ms") / 1000.0, "s"),
        "streaming.state_rows": (mean("stream_state_rows"), "count"),
        "streaming.sink_tables": (r["per_pass"][-1]["sink_tables"] if r["per_pass"] else 0, "count"),
        "sources.write_s": (mean("write_s"), "s"),
        "sources.output_bytes": (mean("output_bytes"), "B"),
        "sources.output_files": (mean("output_files"), "count"),
        "trace.queries_per_s": (len(r["samples"]) / r["steady_s"][0], "1/s"),
        "trace.unstable_queries": (unstable_queries(recs), "count"),
    }
    for layer, s in self_s.items():
        m[f"self_share.{layer}"] = (s / total_self, "frac")
    return m


def unstable_queries(recs: list[dict]) -> int:
    """Queries whose py4j calls or per-phase job/stage counts differ
    between steady passes (the counts should repeat exactly)."""
    seen: dict[str, set] = {}
    for x in recs:
        key = (x.get("py4j_calls"), x.get("load_calls"), tuple(sorted(
            (p, c.get("jobs", 0), c.get("stages", 0)) for p, c in x["counts"].items()
            if p != "stream")))
        seen.setdefault(x["name"], set()).add(key)
    return sum(len(v) > 1 for v in seen.values())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="hadoop_1_spark benchmark, one run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through run_worker so that the worker is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "hadoop_1_spark", "registry.py")):
        print("perfbench: hadoop_1_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import check
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    env = worker_env(work)

    rows = os.path.join(work, "rows.pickle")
    r = run_worker(["--workload", wl.name, "--seed", str(args.seed), "--seconds", str(args.seconds),
                    "--rows", rows] + (["--trace"] if args.trace else []),
                   env, os.path.join(work, "result.json"))
    # the worker is this benchmark's own process: its pickle is trusted
    with open(rows, "rb") as f:
        bad = check.mismatches(wl.data, pickle.load(f))
    failed = r["failed"] + len(bad)

    metrics = per_layer(r) if args.trace else end_to_end(r, 1)
    print(f"workload {wl.name}: sf{wl.sf:g}, {len(wl.queries)} queries/pass, "
          f"local[{r['cores']}], seed {args.seed}, {r['passes']} steady passes, "
          f"{len(r['samples'])} samples")
    print(f"failed_frac {failed / r['attempted']:.4f} "
          f"({failed} of {r['attempted']}; oracle mismatches: {', '.join(bad) or 'none'})")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    if not args.trace:
        wall = end_to_end(r, 0)
        print("wall_clock " + json.dumps({k: v for k, (v, _) in wall.items()}))
    # printed, not gated (README.md, "End-to-end metrics"); times in s are
    # wall time less steal
    lat = [x[2] for x in r["samples"]]
    print(f"reference_s {statistics.median(r['reference']):.6g} s (wall time)")
    print(f"queries_per_s {len(lat) / r['steady_s'][1]:.6g} 1/s (not gated)")
    print(f"query_s_geomean {geomean_of_medians(r['samples'], 1):.6g} s (not gated)")
    print(f"cold_pass_s {r['cold_pass_s'][1]:.6g} s (not gated)")
    print(f"cold_pass_ref {r['cold_pass_s'][1] / reference_time(r, 1):.6g} ref (not gated)")
    print(f"query_s_p50 {statistics.median(lat):.6g} s (not gated)")
    print(f"query_s_p90 {p90(lat):.6g} s (not gated: fewer than 10 samples above it)")
    print("warmup_s " + " ".join(f"{t:.3f}" for t in r["warmup_s"]))
    print("pass_s " + " ".join(f"{t:.3f}" for t in r["pass_s"]))
    steady: dict[str, list[float]] = {}
    for name, t, _ in r["samples"]:
        steady.setdefault(name, []).append(t)
    for name, cold in sorted(r["cold"].items()):
        print(f"query {name}: cold {cold:.3f} s, steady median "
              f"{statistics.median(steady.get(name, [float('nan')])):.3f} s")
    if args.trace:
        print("per_pass " + json.dumps(r["per_pass"]))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": r["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
