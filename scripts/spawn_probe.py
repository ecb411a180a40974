"""Count the child processes the Spark JVM starts while queries run.

Usage: python scripts/spawn_probe.py QUERY [QUERY ...] [--sf DIR] [--runs N]
(``--sf`` defaults to ``session.DEFAULT_SF_DIR``)

Without ``libhadoop``, Hadoop's local filesystem forks a process for some
file operations (``readlink`` for a link-status lookup, ``chmod`` for the
permissions of each created file and directory). Each launch costs the
Spark JVM about 2 ms of idle wall time. A JFR recording of
``jdk.ProcessStart`` inside that JVM sees every launch, with its command
line.

For each query: one warm-up run, then ``--runs`` runs (build plus
``collect()``); prints the median wall seconds and the median launches
per run, in total and grouped by command (the first word of the command
line). ``process_starts`` is the helper ``tests/test_streaming.py`` uses.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import os
import statistics
import sys
import tempfile
import time

BASE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BASE)

from hadoop_1_spark import registry  # noqa: E402
from hadoop_1_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402


@contextlib.contextmanager
def process_starts(spark):
    """Record process launches in the Spark JVM for the ``with`` block.
    Yields a list that holds, once the block exits, the command line of
    every process started inside it."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    commands: list[str] = []
    try:
        yield commands
    finally:
        rec.stop()
        fd, path = tempfile.mkstemp(suffix=".jfr")
        os.close(fd)
        try:
            jpath = jvm.java.io.File(path).toPath()
            rec.dump(jpath)
            for ev in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(jpath):
                commands.append(ev.getString("command"))
        finally:
            rec.close()
            os.unlink(path)


def by_command(commands: list[str]) -> collections.Counter:
    """Launches grouped by program name (first word of the command line)."""
    return collections.Counter(c.split(maxsplit=1)[0] for c in commands)


def probe(spark, name: str, sf_dir: str, runs: int) -> tuple[float, dict[str, float]]:
    """Median wall seconds and median launches per command over ``runs``
    runs of query ``name`` (after one warm-up run)."""
    fn = registry.QUERIES[name]
    fn(spark, sf_dir).collect()
    secs, counts = [], []
    for _ in range(runs):
        with process_starts(spark) as commands:
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            secs.append(time.perf_counter() - t0)
        counts.append(by_command(commands))
    names = sorted(set().union(*counts), key=lambda c: -sum(n[c] for n in counts))
    per_cmd = {c: statistics.median(n[c] for n in counts) for c in names}
    per_cmd["total"] = statistics.median(sum(n.values()) for n in counts)
    return statistics.median(secs), per_cmd


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark("hadoop_1_spark_spawn_probe")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'query':32s} {'s':>7s} {'launches':>9s}  by command (median per run)")
    for name in args.queries:
        secs, per_cmd = probe(spark, name, args.sf, args.runs)
        total = per_cmd.pop("total")
        detail = " ".join(f"{c}={n:g}" for c, n in per_cmd.items() if n)
        print(f"{name:32s} {secs:7.3f} {total:9g}  {detail}", flush=True)


if __name__ == "__main__":
    main()
