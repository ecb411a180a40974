"""Per-session parquet schema cache (session.parquet_schema): a warm
load_table runs no Spark job, returns exactly the schema an uncached read
infers, notices a rewrite at the same path, and still yields fresh
relations that self-join."""

from __future__ import annotations

import itertools
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hadoop_1_spark.session import (
    TABLES,
    load_table,
    normalize_timestamps,
    parquet_schema,
)
from tests.conftest import SF_DIR
from tests.test_vintages import _write_events

_groups = itertools.count()


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs started while fn runs, counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"test_session_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_runs_no_job(spark, tmp_path):
    shutil.copy(os.path.join(SF_DIR, "orders.parquet"), tmp_path)
    # the cold load infers the schema (one job), so the count is live
    assert _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "orders")) >= 1
    assert _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "orders")) == 0


def _assert_cache_matches_inference(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    load_table(spark, sf_dir, name)  # warm the cache
    uncached = spark.read.parquet(path)
    assert parquet_schema(spark, path) == uncached.schema
    warm = load_table(spark, sf_dir, name)
    assert warm.schema == normalize_timestamps(uncached, uncached.schema).schema
    return warm, uncached


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_equals_inferred(spark, name):
    _assert_cache_matches_inference(spark, SF_DIR, name)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_cached_schema_equals_inferred_both_vintages(spark, tmp_path, unit):
    sf = _write_events(str(tmp_path), unit)
    warm, uncached = _assert_cache_matches_inference(spark, sf, "events")
    assert sorted(map(tuple, warm.collect())) == sorted(
        map(tuple, normalize_timestamps(uncached, uncached.schema).collect())
    )


def test_rewrite_at_same_path_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(
        pa.table({"a": pa.array([3], pa.int64()), "b": pa.array(["x"], pa.string())}),
        path,
    )
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_two_loads_self_join(spark):
    a = load_table(spark, SF_DIR, "nation")
    b = load_table(spark, SF_DIR, "nation")
    pairs = a.join(b, a["n_regionkey"] == b["n_regionkey"]).select(
        a["n_nationkey"].alias("x"), b["n_nationkey"].alias("y")
    )
    by_region = {}
    for r in a.select("n_nationkey", "n_regionkey").collect():
        by_region.setdefault(r["n_regionkey"], []).append(r["n_nationkey"])
    want = sorted((x, y) for ks in by_region.values() for x in ks for y in ks)
    assert sorted(map(tuple, pairs.collect())) == want


def test_concurrent_loads_agree(spark, tmp_path):
    """Query builds load tables from a thread pool (gridmix2_mini): racing
    cache misses and hits all return the inferred schema."""
    for name in ("orders", "customer", "nation"):
        shutil.copy(os.path.join(SF_DIR, f"{name}.parquet"), tmp_path)
    want = {
        name: spark.read.parquet(str(tmp_path / f"{name}.parquet")).schema
        for name in ("orders", "customer", "nation")
    }
    names = list(want) * 4
    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [
            pool.submit(parquet_schema, spark, str(tmp_path / f"{n}.parquet"))
            for n in names
        ]
        got = [f.result(timeout=120) for f in futures]
    assert got == [want[n] for n in names]
