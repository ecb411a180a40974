"""Query registry: every implemented operator exposed as a named query over
the driver's star-schema tables, each with a DuckDB oracle SQL equivalent.

This is the engine's analog of the reference's example-driver registry
(src/examples/org/apache/hadoop/examples/ExampleDriver.java:36-73): a named
catalog of runnable capability queries.

Contract (driver): each query callable takes (spark, sf_dir) and returns a
DataFrame; the oracle SQL runs on DuckDB views named after the parquet
tables. Column names and types must match between the two — every computed
column is explicitly aliased and cast on BOTH sides.

Cross-engine determinism rules used throughout:
- double aggregation: cast inputs to DECIMAL(18,4), aggregate exactly, cast
  the result back to DOUBLE — identical bits in Spark and DuckDB regardless
  of partial-aggregation order... UNTIL the scaled integer exceeds 2^53:
  DuckDB's decimal->double cast double-rounds (int128 -> double, then
  / 10^scale) while Spark's is correctly rounded, so they can differ by
  1 ulp (seen at sf0.1 on a scale-8 product sum). Sums whose scaled
  magnitude can pass 2^53 stay DECIMAL and are output as STRINGS (both
  engines print decimal(38,8) identically). On the Spark side such sums
  run through ``operators.folds.money_sum``, which returns the same exact
  decimal from sums on long lanes.
- cross-engine hashing: md5 hex strings (identical in both engines); never
  Spark's murmur3 ``hash``/``xxhash64`` in oracle-checked queries.
- timestamps are never output raw; cast/format to string or date parts.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query and (optionally) its DuckDB oracle SQL.

    Queries without an oracle get the driver's weaker rows-only check
    (reserved for genuinely non-SQL-expressible ops).

    Every registered entry point releases the previous query's persisted
    signature tables (operators.caching.release_caches) before building: by
    the time
    the next query is being built the previous result has been collected,
    so its caches are dead weight. Bounded invariant for a long-lived
    session running the whole catalog: at most one query's caches are
    live at any time. (Unpersisting a cache is always safe — a caller that
    executes an older DataFrame afterwards just recomputes; a released
    local checkpoint is not, see operators.caching.)
    """

    def wrap(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
            from hadoop_1_spark.operators import caching

            caching.release_caches()
            return fn(spark, sf_dir)

        QUERIES[name] = dispatch
        if oracle is not None:
            ORACLE[name] = oracle
        return dispatch

    return wrap


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from hadoop_1_spark.session import load_table

    return load_table(spark, sf_dir, name)


# Import side-effect modules that populate the registry.  Keep this at the
# bottom so `register`/`_load` exist when they import back.
from hadoop_1_spark.queries import (  # noqa: E402,F401
    q_aggregate,
    q_dedup,
    q_fieldsel,
    q_graph,
    q_gridmix,
    q_join,
    q_multimodal,
    q_parity,
    q_pipelines,
    q_recordio,
    q_setops,
    q_similarity,
    q_sort,
    q_streaming,
    q_temporal,
    q_textops,
    q_transforms,
    q_udf,
)

# q_corpus composes oracle SQL registered by q_textops/q_dedup, so it must
# import after them.
from hadoop_1_spark.queries import q_corpus  # noqa: E402,F401
