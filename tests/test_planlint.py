"""One build per registered query at sf0.001, checked twice: a global
physical-plan lint, then the query's DuckDB oracle.

The lint is the anti-pattern guard the per-query plan tests can't give:
a future edit that sneaks a cartesian product or a row-at-a-time Python
UDF into any query fails here, not in a code review. Rules (crisp,
plan-text-decidable):
- no CartesianProduct anywhere, except the explicitly-labeled O(n^2)
  correctness baseline (dedup_embedding_cosine — its docstring names the
  LSH twin as the scale path);
- no BatchEvalPython (row-at-a-time Python) anywhere: every Python seam
  must be Arrow-batched (ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas).

Queries that materialize driver-side state during CONSTRUCTION
(iterative trainers) still build quickly at that scale. Streaming
queries execute to a sink and expose only a sink-read batch plan, so
they skip the lint (as scripts/plan_audit.py does) but not the oracle.

Every query in ``registry.ORACLE`` is then collected and compared with
its oracle exactly as scripts/oracle_check.py does (column names, row
count, bit-exact values, order-insensitive).

Fact-table broadcast rule (session.py, "Broadcast policy"): the joins
over lineitem are executed at sf0.1, and no BroadcastExchange in the
final adaptive plan may reach ``BROADCAST_BOUND`` bytes. The rule reads
the exchange's ``dataSize`` metric, the in-memory hashed relation that
every task holds, so it sees what the size estimate missed.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_DIR, assert_frame_matches_oracle

SKIP = {
    "stream_tumbling_counts",
    "stream_sliding_avg",
    "stream_session_windows",
    "stream_stateful_user_stats",
}

CARTESIAN_ALLOWED = {"dedup_embedding_cosine"}


def _all_query_names():
    from hadoop_1_spark import registry
    import hadoop_1_spark.queries  # noqa: F401

    return sorted(registry.QUERIES)


@pytest.mark.parametrize("name", _all_query_names())
def test_plan_lint(spark, duck, name):
    from hadoop_1_spark import registry

    df = registry.QUERIES[name](spark, SF_DIR)
    if name not in SKIP:
        plan = df._jdf.queryExecution().executedPlan().toString()
        if name not in CARTESIAN_ALLOWED:
            assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"
    if name in registry.ORACLE:
        assert_frame_matches_oracle(duck, name, df)


SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.1")

FACT_JOIN_QUERIES = (
    "join_3way",
    "tpch_q3_topk",
    "tpch_q4_priority",
    "tpch_q5_local_volume",
    "tpch_q18_large_orders",
)

# A hashed relation's dataSize grows in steps: its row page doubles. At
# sf0.1 the largest legitimate broadcasts (join_3way's 150k-row
# customer-orders side, tpch_q3_topk's date-filtered lineitem when AQE
# picks it) sit on the 16 MiB page step at ~17.1 MiB; lineitem's join
# columns (600k rows) land on the 32 MiB step at ~33.1 MiB. 24 MiB lies
# between the two steps, so neither a few more nor a few fewer rows flips
# the verdict.
BROADCAST_BOUND = 24 * 2**20

# (query, tables scanned under the broadcast) -> why it may exceed the bound
BROADCAST_ALLOWED = {
    ("tpch_q5_local_volume", ("supplier",)): (
        "1,000 supplier rows on the two-column (suppkey, nationkey) key: "
        "the relation is a BytesToBytesMap whose dataSize is one "
        "allocated memory page (64 MiB with the default page size), not "
        "row data"
    ),
}


def _seq(s):
    it = s.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _walk(plan):
    """Every node of an executed physical plan, adaptive query stages and
    subqueries included (perfbench/tracer.py's _broadcast_max walk). A
    ReusedExchange is a leaf: the exchange it reuses is not walked again."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))


def _scanned_tables(plan):
    """Table names of the parquet scans in ``plan``, one per scan."""
    return [
        os.path.basename(p.toString()).removesuffix(".parquet")
        for node in _walk(plan)
        if node.getClass().getSimpleName() == "FileSourceScanExec"
        for p in _seq(node.relation().location().rootPaths())
    ]


@pytest.fixture(scope="module")
def fact_join_plans(spark):
    """Executed (final adaptive) plans of the fact-join queries at sf0.1,
    each query run once."""
    from hadoop_1_spark import registry

    plans = {}
    for name in FACT_JOIN_QUERIES:
        df = registry.QUERIES[name](spark, SF01_DIR)
        df.collect()
        plans[name] = df._jdf.queryExecution().executedPlan()
    return plans


@pytest.mark.parametrize("name", FACT_JOIN_QUERIES)
def test_no_fact_table_broadcast(fact_join_plans, name):
    broadcasts = [
        (
            node.metrics().apply("dataSize").value(),
            tuple(sorted(set(_scanned_tables(node.child())))),
        )
        for node in _walk(fact_join_plans[name])
        if node.getClass().getSimpleName() == "BroadcastExchangeExec"
    ]
    over = [
        (size, tables)
        for size, tables in broadcasts
        if size >= BROADCAST_BOUND and (name, tables) not in BROADCAST_ALLOWED
    ]
    assert not over, f"{name}: (bytes, tables) broadcasts {over} reach {BROADCAST_BOUND} B"


def test_q18_scans_lineitem_once(fact_join_plans):
    """tpch_q18_large_orders aggregates lineitem once per orderkey and
    joins only those per-order sums back, so the executed plan scans
    lineitem once and has no second lineitem join to feed."""
    tables = _scanned_tables(fact_join_plans["tpch_q18_large_orders"])
    assert tables.count("lineitem") == 1, tables
