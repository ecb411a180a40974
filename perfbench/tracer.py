"""Per-layer tracing from outside the engine.

A ``Tracer`` wraps calls into each layer's public functions and reads
Spark's own bookkeeping; it changes no engine code:

- ``session``: ``session.load_table`` is wrapped (time, calls, jobs);
- ``queries``: the ``registry.QUERIES[name]`` call is the driver build
  span, with its py4j round-trips, jobs and stages;
- Catalyst: the built DataFrame's ``queryExecution()`` is planned and its
  phase tracker read (analysis, optimization, planning);
- execution: that same QueryExecution is run to the end and its rows
  dropped (``toRdd().count()``; the untraced run's noop-sink save would
  optimize and plan the query a second time), with stage metrics from the
  status store and broadcast sizes from the executed plan's metrics;
- ``operators.caching``: bytes of persisted RDDs, read after each query;
- ``streaming``: ``streaming.run_to_table`` is wrapped, and a
  ``StreamingQueryListener`` collects micro-batch progress;
- ``sources``: the ``sources.io`` writers are wrapped (time, bytes and
  files written).

Each phase of a query runs under its own Spark job group
(``<query>#<n>:<phase>``); job and stage counts are read per group after
the listener bus drains, so they do not depend on timing. The streaming
engine runs micro-batch jobs under its own group (the run id), so they are
not counted as build jobs.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

WRITERS = (
    "write_kv_text",
    "write_partitioned",
    "multiple_outputs",
    "write_sequence_file",
    "write_orc",
    "write_jsonl",
    "write_csv",
    "write_bloom_map",
    "compact_small_files",
)
_NODE = re.compile(r"^[\s:|+\-]*(\w+)")


def _paths(obj):
    """Yield every string nested in ``obj`` (args of a writer call)."""
    if isinstance(obj, str):
        yield obj
    elif isinstance(obj, (list, tuple)):
        for x in obj:
            yield from _paths(x)
    elif isinstance(obj, dict):
        for x in obj.values():
            yield from _paths(x)


def _seq(s) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping hidden/marker files."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def _broadcast_max(plan) -> int:
    """Largest broadcast (bytes) in an executed physical plan, adaptive
    query stages and subqueries included."""
    best, stack = 0, [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "BroadcastExchangeExec":
            best = max(best, node.metrics().apply("dataSize").value())
        elif kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return best


class Tracer:
    """Collects one record per query execution; see module docstring."""

    def __init__(self):
        self.spark = None
        self.records: list[dict] = []
        self.rec: dict | None = None
        self.py4j_calls = 0
        self._paused = 0
        self._main = threading.get_ident()
        self._groups: list[str] = []
        self._n = 0
        self._write_depth = 0
        self._stream_runs: dict[str, dict] = {}
        self._qe = None
        self._patch()

    # ----------------------------------------------------------- patching
    def _patch(self) -> None:
        import py4j.java_gateway as jg

        from hadoop_1_spark import session, streaming
        from hadoop_1_spark.sources import io

        send = jg.GatewayClient.send_command
        tracer = self

        @functools.wraps(send)
        def counted(client, *a, **kw):
            if not tracer._paused and threading.get_ident() == tracer._main:
                tracer.py4j_calls += 1
            return send(client, *a, **kw)

        jg.GatewayClient.send_command = counted
        session.load_table = self._wrap_load(session.load_table)
        streaming.run_to_table = self._wrap_stream(streaming.run_to_table)
        for name in WRITERS:
            if hasattr(io, name):
                setattr(io, name, self._wrap_write(getattr(io, name)))

    @contextmanager
    def _untraced(self):
        """Bookkeeping calls of the tracer itself are not counted."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def _push(self, phase: str) -> str:
        group = f"{self.rec['name']}#{self.rec['seq']}:{phase}"
        with self._untraced():
            self.spark.sparkContext.setJobGroup(group, phase)
        self._groups.append(group)
        self.rec.setdefault("groups", {}).setdefault(phase, [])
        if group not in self.rec["groups"][phase]:
            self.rec["groups"][phase].append(group)
        return group

    def _pop(self) -> None:
        self._groups.pop()
        with self._untraced():
            if self._groups:
                self.spark.sparkContext.setJobGroup(self._groups[-1], "")
            else:
                self.spark.sparkContext._jsc.clearJobGroup()

    def _span(self, phase: str, key: str, fn):
        """Run fn under the phase's job group; add its time to rec[key]."""
        if self.rec is None:
            return fn()
        self._push(phase)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.rec[key] = self.rec.get(key, 0.0) + time.perf_counter() - t0
            self._pop()

    def _wrap_load(self, fn):
        @functools.wraps(fn)
        def load_table(*a, **kw):
            if self.rec is not None:
                self.rec["load_calls"] = self.rec.get("load_calls", 0) + 1
            return self._span("load", "load_s", lambda: fn(*a, **kw))

        return load_table

    def _wrap_stream(self, fn):
        @functools.wraps(fn)
        def run_to_table(*a, **kw):
            return self._span("stream", "stream_s", lambda: fn(*a, **kw))

        return run_to_table

    def _wrap_write(self, fn):
        @functools.wraps(fn)
        def write(*a, **kw):
            if self.rec is None or self._write_depth:
                return fn(*a, **kw)
            self._write_depth += 1
            try:
                out = self._span("write", "write_s", lambda: fn(*a, **kw))
            finally:
                self._write_depth -= 1
            for p in set(_paths((a, kw))):
                if os.path.isabs(p) and os.path.exists(p):
                    size, files = _du(p)
                    self.rec["output_bytes"] = self.rec.get("output_bytes", 0) + size
                    self.rec["output_files"] = self.rec.get("output_files", 0) + files
            return out

        return write

    # ------------------------------------------------------------ session
    def attach(self, spark) -> None:
        """Start listening on a ready session (streaming progress)."""
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        runs = self._stream_runs

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                runs[str(event.runId)] = {"batches": 0, "trigger_ms": 0, "add_batch_ms": 0, "state_rows": 0}

            def onQueryProgress(self, event):
                p = event.progress
                r = runs.setdefault(str(p.runId), {"batches": 0, "trigger_ms": 0, "add_batch_ms": 0, "state_rows": 0})
                r["batches"] += 1
                r["trigger_ms"] += p.durationMs.get("triggerExecution", 0)
                r["add_batch_ms"] += p.durationMs.get("addBatch", 0)
                r["state_rows"] = max(r["state_rows"], sum(s.numRowsTotal for s in p.stateOperators))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        with self._untraced():
            spark.streams.addListener(Progress())

    # -------------------------------------------------------------- query
    def build(self, name: str, fn):
        """Driver build span: ``registry.QUERIES[name](spark, sf_dir)``."""
        self._n += 1
        self.rec = {"name": name, "seq": self._n}
        self._stream_runs.clear()
        c0 = self.py4j_calls
        try:
            return self._span("build", "build_s", fn)
        finally:
            self.rec["py4j_calls"] = self.py4j_calls - c0

    def plan(self, df):
        """Catalyst span: plan the built DataFrame and read its phases.
        Returns the QueryExecution, which ``execute`` must run so that the
        plan made here is the plan executed."""
        self._push("plan")
        try:
            with self._untraced():
                t0 = time.perf_counter()
                qe = df._jdf.queryExecution()
                plan = qe.executedPlan()
                self.rec["plan_s"] = time.perf_counter() - t0
                phases = qe.tracker().phases()
                for phase, key in (("analysis", "analyze_s"), ("optimization", "optimize_s"), ("planning", "planning_s")):
                    self.rec[key] = phases.apply(phase).durationMs() / 1000.0 if phases.contains(phase) else 0.0
                tree = plan.treeString()
        finally:
            self._pop()
        nodes = [m.group(1) for m in map(_NODE.match, tree.splitlines()) if m]
        self.rec["plan_nodes"] = len(nodes)
        self.rec["exchanges"] = sum(n.endswith("Exchange") for n in nodes)
        self.rec["broadcast_exchanges"] = sum(n == "BroadcastExchange" for n in nodes)
        self._qe = qe
        return qe

    def execute(self, run):
        """Execution span: ``run()`` executes the planned QueryExecution."""
        c0 = self.py4j_calls
        try:
            return self._span("exec", "exec_s", run)
        finally:
            self.rec["exec_py4j_calls"] = self.py4j_calls - c0
            self._finish()

    def fail(self) -> None:
        """Drop the record of a query that raised."""
        while self._groups:
            self._pop()
        self.rec = None

    # ------------------------------------------------------ bookkeeping
    def _finish(self) -> None:
        rec, sc = self.rec, self.spark.sparkContext
        with self._untraced():
            jsc = sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            tracker, store = sc._jsc.statusTracker(), jsc.statusStore()
            counts: dict[str, dict] = defaultdict(lambda: defaultdict(float))
            for phase, groups in rec.get("groups", {}).items():
                c = counts[phase]
                for g in groups:
                    for job in tracker.getJobIdsForGroup(g):
                        c["jobs"] += 1
                        info = tracker.getJobInfo(job)
                        for sid in (info.stageIds() if info is not None else []):
                            for st in _seq(store.stageData(sid, False, None, False, None)):
                                if st.status().toString() == "SKIPPED":
                                    continue
                                c["stages"] += 1
                                c["tasks"] += st.numCompleteTasks()
                                c["task_run_s"] += st.executorRunTime() / 1000.0
                                c["gc_s"] += st.jvmGcTime() / 1000.0
                                c["input_bytes"] += st.inputBytes()
                                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec["counts"] = {p: dict(c) for p, c in counts.items()}
            rec["broadcast_bytes_max"] = _broadcast_max(self._qe.executedPlan())
            rec["live_rdd_bytes"] = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
            runs = list(self._stream_runs.values())
            for k in ("batches", "trigger_ms", "add_batch_ms", "state_rows"):
                rec["stream_" + k] = sum(r[k] for r in runs)
        self.records.append(rec)
        self.rec = None

    def sink_tables(self) -> int:
        """Memory-sink tables (``stream_sink_N``) alive in the session."""
        with self._untraced():
            return sum(t.name.startswith("stream_sink_") for t in self.spark.catalog.listTables())
