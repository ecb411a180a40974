"""Shared test fixtures: one SparkSession per test run, a DuckDB connection
with the star-schema views registered (scripts/oracle_check.py's setup),
and a compare helper running scripts/oracle_check.py's exact row-count +
schema + value comparison at sf0.001 for speed.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_1_spark.session import get_spark  # noqa: E402
from scripts.oracle_check import create_views, oracle_mismatch  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # cores from $SPARK_GRAFT_CPUS (or all local cores), as get_spark does
    spark = get_spark("hadoop_1_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    create_views(con, SF_DIR)
    yield con
    con.close()


def assert_frame_matches_oracle(duck, name, sdf):
    """Collect ``sdf``, registered query ``name``'s DataFrame, and assert
    it equals the oracle's result exactly (scripts/oracle_check.py)."""
    problem = oracle_mismatch(name, list(sdf.columns), [tuple(r) for r in sdf.collect()], duck)
    assert problem is None, f"{name}: {problem}"


def assert_query_matches_oracle(spark, duck, name):
    """Run a registered query and its oracle SQL; assert row count, column
    names, and order-insensitive values match exactly."""
    from hadoop_1_spark import registry

    assert_frame_matches_oracle(duck, name, registry.QUERIES[name](spark, SF_DIR))
