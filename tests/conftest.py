"""Shared test fixtures: one SparkSession per test run, a DuckDB connection
with the star-schema views registered (mirrors the driver's oracle setup),
and an order-insensitive compare helper reproducing the driver's
row-count + schema + value-hash protocol at sf0.001 for speed.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_1_spark.session import TABLES, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # cores from $SPARK_GRAFT_CPUS (or all local cores), as get_spark does
    spark = get_spark("hadoop_1_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _normalize(rows, cols):
    """Sort columns by name, normalize floats, return a sorted multiset of
    rows — order-insensitive, like the driver's value hash."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        norm = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else f"{v:.9g}"
            norm.append(str(v))
        out.append(tuple(norm))
    out.sort()
    return out


def assert_query_matches_oracle(spark, duck, name, sf_dir=SF_DIR):
    """Run a registered query and its oracle SQL; assert row count, column
    names, and order-insensitive values match."""
    from hadoop_1_spark import registry

    sdf = registry.QUERIES[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    res = duck.execute(registry.ORACLE[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} vs {len(drows)}"
    snorm = _normalize(srows, scols)
    dnorm = _normalize(drows, dcols)
    mismatches = [(a, b) for a, b in zip(snorm, dnorm) if a != b]
    assert not mismatches, f"{name}: first value mismatches {mismatches[:5]}"
