"""Self-test of the tracer: counts must repeat exactly.

    python3 perfbench/selftest.py [query ...]

Runs each query (default ``tpch_q6_forecast``) three times at sf0.01 in one
traced session. The first run warms the session; the second and third
must attribute the same py4j calls, table loads, and jobs and stages per
phase (build, load, plan, exec, write). Exits 1 and prints both records if
they differ.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from workloads import DATA  # noqa: E402


def counts(rec: dict) -> dict:
    return {
        "py4j_calls": rec["py4j_calls"],
        "exec_py4j_calls": rec["exec_py4j_calls"],
        "load_calls": rec.get("load_calls", 0),
        "phases": {
            phase: (int(c.get("jobs", 0)), int(c.get("stages", 0)))
            for phase, c in sorted(rec["counts"].items())
            if phase != "stream"
        },
    }


def main() -> int:
    names = sys.argv[1:] or ["tpch_q6_forecast"]
    data = os.path.join(DATA, "sf0.01")
    os.environ.update(run.worker_env(os.path.join(run.ROOT, ".bench_build", "perfbench")))

    from hadoop_1_spark import registry, session
    from tracer import Tracer

    tracer = Tracer()
    spark = session.get_spark("perfbench-selftest")
    tracer.attach(spark)
    bad = 0
    try:
        for name in names:
            for _ in range(3):
                df = tracer.build(name, lambda: registry.QUERIES[name](spark, data))
                qe = tracer.plan(df)
                tracer.execute(lambda: qe.toRdd().count())
            second, third = (counts(r) for r in tracer.records[-2:])
            ok = second == third
            bad += not ok
            print(f"{name}: {'ok' if ok else 'MISMATCH'} {second}")
            if not ok:
                print(f"{name}: then {third}")
    finally:
        spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
