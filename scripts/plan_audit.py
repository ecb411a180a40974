"""Regenerate PLANS.md: physical-plan audit of every registered query.

For each query: scans' read schemas (column pruning evidence), pushed
filters, join strategies, exchange (shuffle) count, whole-stage-codegen
spans, and Python-eval nodes (which must appear ONLY in the deliberate
Arrow seams). Run: python scripts/plan_audit.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# streaming queries execute a stream to a sink; their batch plan is the
# sink-read, so we audit the stateful machinery separately.
SKIP = {"stream_tumbling_counts", "stream_sliding_avg", "stream_session_windows",
        "stream_stateful_user_stats"}

PY_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython",
            "MapPartitions", "Scan ExistingRDD")


def main() -> None:
    from hadoop_1_spark import registry
    from hadoop_1_spark.session import get_spark

    spark = get_spark("plan_audit", cpus=8)
    lines = [
        "# PLANS — physical-plan audit (auto-generated by scripts/plan_audit.py)",
        "",
        "Per query: shuffle (Exchange) count, join strategies, whole-stage codegen",
        "spans, Python-eval nodes (expected ONLY in deliberate Arrow seams), and the",
        "narrowest scan schema (column-pruning evidence). Streaming queries are",
        "audited by their tests instead (plans are sink-reads here).",
        "",
        "Exchange counts on iterative/cached queries can drift by ±1 between",
        "regens (AQE materializes shuffle query stages at runtime, and cached",
        "subplans hide or expose an exchange depending on when the audit samples",
        "them) — treat a one-off ±1 on an untouched query as regen noise, and only",
        "investigate drift that persists across two regens or follows a code change.",
        "",
        "Plans are POST-execution (AQE-final): each query runs to completion at",
        "sf0.001 before auditing, so exchange/codegen counts reflect the real",
        "runtime plan.",
        "expected Python nodes: mm_features/pipe_* (Arrow seams), sim_*/",
        "dedup_embedding_* (Arrow vector math, bit-identical to the expression",
        "folds — see operators/folds.py), gridmix_varkv_sort (SortValidator",
        "per-partition checks),",
        "secondary_sort_iterator (grouped iterator contract), terasort_validate",
        "(TeraValidate per-partition boundary checks), pentomino/pipe (RDD surface).",
        "",
        "| query | exchanges | joins | WSCG spans | python nodes | narrowest scan |",
        "|---|---|---|---|---|---|",
    ]
    for name in sorted(registry.QUERIES):
        if name in SKIP:
            continue
        try:
            df = registry.QUERIES[name](spark, SF_DIR)
            df.collect()  # drive to completion so AQE finalizes the plan
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:
            lines.append(f"| {name} | ERR {str(ex)[:40]} | | | | |")
            continue
        # AQE-final plans repeat exchanges (stage + reuse); unique shuffle
        # stage ids are the true shuffle count. Broadcast exchanges excluded.
        stages = set(re.findall(r"ShuffleQueryStage (\d+)", plan))
        nx = len(stages) if stages else len(
            re.findall(r"Exchange (?:hash|range|Single)", plan)
        )
        joins = sorted(
            {m for m in re.findall(r"(BroadcastHashJoin|SortMergeJoin|BroadcastNestedLoopJoin|ShuffledHashJoin)", plan)}
        )
        # codegen'd operators carry a "*(n)" stage id prefix in plan text
        wscg = len(set(re.findall(r"\*\((\d+)\)", plan)))
        py = sorted({n for n in PY_NODES if n in plan})
        schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
        narrow = min(schemas, key=lambda s: s.count(",")) if schemas else "-"
        narrow = narrow[:48] + ("…" if len(narrow) > 48 else "")
        lines.append(
            f"| {name} | {nx} | {','.join(joins) or '-'} | {wscg} | {','.join(py) or '-'} | `{narrow}` |"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(lines) - 8} queries)")


if __name__ == "__main__":
    main()
