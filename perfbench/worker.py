"""One benchmark driver process: set up a session, run one workload.

Started by ``run.py`` with the checkout on ``PYTHONPATH``. Writes one JSON
object to ``--out``. It first measures set-up: the time from ``--spawned``
(a ``clock`` mark taken by the parent just before starting this process)
to a ready session, i.e. ``session.get_spark`` plus a first trivial job.
Then it runs the workload as a single-client closed loop:

1. cold pass: every query once, in the workload's order, in a fresh
   session; results are collected and pickled to ``--rows`` so that
   ``run.py`` can check them against the DuckDB oracle afterwards;
2. ``WARMUP_PASSES`` untimed passes, so that the JIT has compiled the
   hot paths before timing starts (pass times keep falling for tens of
   seconds after the cold pass);
3. steady passes until they have taken ``--seconds``; each query is built
   and forced through the noop sink, and its build+execute latency is one
   sample. After each pass, and after each warm-up pass, the ``reference``
   job is timed.

Every pass after the cold one runs the queries in a new order drawn from
``--seed``.

Each time is reported as a pair: wall time, and wall time less the share
the hypervisor stole (``clock.since``).

With ``--trace`` the same loop runs under ``tracer.Tracer`` and the result
carries one record per query execution (see ``tracer.py``).
"""

from __future__ import annotations

import argparse
import json
import pickle
import random
import resource
import time
import traceback

import clock

# Two passes take 4-9 s at sf0.01 and 7-15 s at sf0.1 on a 4-core VM; with
# them, the spread of queries_per_s over ten runs fell from 0.12-0.16 to
# 0.08 (README.md, "Warm-up"). More did not clearly help.
WARMUP_PASSES = 2
REF_ROWS = 3_000_000


def reference(spark) -> float:
    """Best-of-three time of a fixed Spark job on the session that runs
    none of the engine's code (README.md, "Reference job")."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(REF_ROWS).selectExpr("sum(id * 7 % 13)").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def run_workload(spark, wl, seed: int, seconds: float, tracer, rows_path: str) -> dict:
    from hadoop_1_spark import registry

    rng = random.Random(seed)
    attempted = failed = 0

    def run_one(name: str, collect: bool):
        fn = registry.QUERIES[name]
        if tracer is None:
            df = fn(spark, wl.data)
            if collect:
                return df, [tuple(r) for r in df.collect()]
            df.write.format("noop").mode("overwrite").save()
            return df, None
        # traced: execute the very QueryExecution the Catalyst span planned
        df = tracer.build(name, lambda: fn(spark, wl.data))
        qe = tracer.plan(df)
        if collect:
            return df, tracer.execute(lambda: [tuple(r) for r in df.collect()])
        tracer.execute(lambda: qe.toRdd().count())
        return df, None

    order = list(wl.queries)
    results = {}

    def run_pass(collect: bool) -> list[tuple[str, float, float]]:
        """Every query once, in ``order``: (name, wall s, s less steal)."""
        nonlocal attempted, failed
        times = []
        for name in order:
            attempted += 1
            q0 = clock.mark()
            try:
                df, rows = run_one(name, collect)
                times.append((name, *clock.since(q0)))
                if collect:
                    results[name] = (list(df.columns), rows)
            except Exception:
                failed += 1
                traceback.print_exc()
                if tracer is not None:
                    tracer.fail()
        return times

    # cold pass: fresh session, results collected for the correctness check
    t0 = clock.mark()
    cold = {name: t for name, t, _ in run_pass(collect=True)}
    cold_pass_s = clock.since(t0)
    with open(rows_path, "wb") as f:
        pickle.dump(results, f)

    # the reference job runs after every pass from here on, outside the
    # timed passes; the runs after the warm-up passes warm it up
    warmup_s = []
    for _ in range(WARMUP_PASSES):
        p0 = time.monotonic()
        rng.shuffle(order)
        run_pass(collect=False)
        warmup_s.append(time.monotonic() - p0)
        reference(spark)
    warm_records = len(tracer.records) if tracer is not None else 0

    # whole steady passes, so every query weighs the same in the samples,
    # until the passes have taken ``seconds``
    samples: list[tuple[str, float, float]] = []
    per_pass: list[dict] = []
    pass_s: list[float] = []
    refs: list[float] = []
    steady_s = [0.0, 0.0]
    while steady_s[0] < seconds:
        first = len(tracer.records) if tracer is not None else 0
        rng.shuffle(order)
        p0 = clock.mark()
        samples += run_pass(collect=False)
        wall, less_steal = clock.since(p0)
        pass_s.append(wall)
        steady_s[0] += wall
        steady_s[1] += less_steal
        if tracer is not None:
            per_pass.append({
                "sink_tables": tracer.sink_tables(),
                "live_rdd_bytes": max((r["live_rdd_bytes"] for r in tracer.records[first:]), default=0),
            })
        refs.append(reference(spark))
    out = {
        "attempted": attempted,
        "failed": failed,
        "cold_pass_s": cold_pass_s,
        "steady_s": steady_s,
        "passes": len(pass_s),
        "cold": cold,
        "samples": samples,
        "warmup_s": warmup_s,
        "pass_s": pass_s,
        "reference": refs,
        "peak_rss_mb": peak_rss_mb(spark),
    }
    if tracer is not None:
        out["per_pass"] = per_pass
        out["records"] = tracer.records[warm_records:]
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--spawned", required=True, help="clock mark: monotonic,steal,busy")
    ap.add_argument("--out", required=True)
    ap.add_argument("--rows", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)

    from hadoop_1_spark import session
    from workloads import WORKLOADS

    tracer = None
    if args.trace:
        from tracer import Tracer

        tracer = Tracer()
    spawned = tuple(float(x) for x in args.spawned.split(","))
    g0 = clock.mark()
    spark = session.get_spark("perfbench")
    get_spark_s = clock.since(g0)[0]
    spark.range(1).count()
    result = {"setup_s": clock.since(spawned), "get_spark_s": get_spark_s}
    try:
        if tracer is not None:
            tracer.attach(spark)
        result.update(run_workload(spark, WORKLOADS[args.workload], args.seed, args.seconds,
                                   tracer, args.rows))
        result["cores"] = spark.sparkContext.defaultParallelism
    finally:
        # stops the Python worker daemon too
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
