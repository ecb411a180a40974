"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over hadoop_1_spark: the query catalog lives in
``hadoop_1_spark/queries/`` and registers into ``hadoop_1_spark.registry``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_1_spark import registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (Grep pipeline, SURVEY.md §7 Phase 0) on sf0.001:
    scan documents -> regex extract -> group-count -> global sort desc."""
    return registry.QUERIES["grep"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in registry
    order."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each oracle-checkable query."""
    return dict(registry.ORACLE)
