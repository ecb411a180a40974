"""Structured Streaming family vs batch-SQL oracle + semantics checks."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, assert_query_matches_oracle


@pytest.mark.parametrize(
    "name",
    [
        "stream_tumbling_counts",
        "stream_sliding_avg",
        "stream_session_windows",
        "stream_stateful_user_stats",
        "stream_interval_join",
        "stream_outer_join",
        "stream_full_outer_join",
    ],
)
def test_streaming_queries_match_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


def test_memory_sinks_released_between_queries(spark):
    """Each run_to_table registers a stream_sink_N view; the next
    registered query's dispatch drops the previous one, so repeated
    streaming queries do not pile up views. The released result stays
    readable."""
    from hadoop_1_spark import registry

    runs = [registry.QUERIES["stream_tumbling_counts"](spark, SF_DIR) for _ in range(3)]
    sinks = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_sink_")]
    assert len(sinks) <= 1, sinks
    assert sorted(map(tuple, runs[0].collect())) == sorted(map(tuple, runs[2].collect()))


def test_sliding_doubles_row_mass(spark):
    """Every event contributes to exactly window/slide sliding windows."""
    from hadoop_1_spark import registry
    from hadoop_1_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    total = load_table(spark, sf, "events").count()
    slid = registry.QUERIES["stream_sliding_avg"](spark, sf)
    assert slid.groupBy().sum("n").collect()[0][0] == 2 * total


def test_session_windows_bounded_by_gap(spark):
    from hadoop_1_spark import registry

    rows = registry.QUERIES["stream_session_windows"](spark, "/root/testdata/sf0.001").collect()
    gap_us = 30 * 60 * 1_000_000
    assert rows
    for r in rows:
        # end = last event + gap, so every session spans >= gap
        assert r["session_end_us"] - r["session_start_us"] >= gap_us


def test_watermark_drops_late_data(spark, tmp_path):
    """Watermark discipline with a real two-batch file stream: batch 2's
    fresh events advance the watermark past window W; a too-late event for
    W arriving in batch 3 is dropped (append mode emits W exactly once,
    without the late row)."""
    import os
    import time as _t

    from pyspark.sql import functions as F

    src = str(tmp_path / "in")
    os.makedirs(src)
    chk = str(tmp_path / "chk")

    def write_batch(name, rows):
        (
            spark.createDataFrame(rows, "ts string, k string")
            .select(F.col("ts").cast("timestamp").alias("ts"), "k")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    t0 = "2024-01-01 00:00:"
    write_batch("b1", [(f"{t0}10", "a"), (f"{t0}20", "a")])

    stream = (
        spark.readStream.schema("ts timestamp, k string")
        .parquet(src)
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 minute"), "k")
        .count()
        .select(F.col("window.start").cast("string").alias("w"), "k", "count")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wm_sink")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        # advance watermark far past the first window...
        write_batch("b2", [("2024-01-01 00:05:00", "b")])
        q.processAllAvailable()
        # ...then send a LATE event for the closed first window
        write_batch("b3", [(f"{t0}30", "a")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {(r["w"], r["k"]): r["count"] for r in spark.table("wm_sink").collect()}
    # first window emitted once with the on-time count only (late row dropped)
    assert rows[("2024-01-01 00:00:00", "a")] == 2


def test_stream_dedup_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "stream_dedup")


def test_checkpoint_recovery_resumes_stream(spark, tmp_path):
    """Fault-tolerance parity (JobTracker RecoveryManager,
    mapred/JobTracker.java:1226 -> streaming checkpoints): kill a query,
    restart from the same checkpoint, and the resumed run processes ONLY
    the new input — the file sink's commit log yields exactly-once output
    across the failure."""
    import os

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(src)
    chk = str(tmp_path / "chk")

    def write_batch(vals):
        spark.createDataFrame([(v,) for v in vals], "v long").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start():
        return (
            spark.readStream.schema("v long")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .start()
        )

    write_batch([1, 2, 3])
    q = start()
    q.processAllAvailable()
    q.stop()  # simulated failure

    write_batch([4, 5])
    q2 = start()  # recovery from checkpoint
    q2.processAllAvailable()
    q2.stop()

    got = sorted(r["v"] for r in spark.read.parquet(out).collect())
    # exactly-once: every record once, none reprocessed after recovery
    assert got == [1, 2, 3, 4, 5]


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The RocksDB state-store scale path actually runs in this Spark: a
    windowed count executes with the RocksDB provider and produces the
    same results as the default provider, and the checkpoint contains
    RocksDB state files."""
    import os

    from pyspark.sql import functions as F

    from hadoop_1_spark import streaming as S

    src = str(tmp_path / "in")
    os.makedirs(src)
    chk = str(tmp_path / "chk")
    (
        spark.createDataFrame(
            [("2024-01-01 00:00:10", "a"), ("2024-01-01 00:00:20", "a"), ("2024-01-01 00:02:05", "b")],
            "ts string, k string",
        )
        .select(F.col("ts").cast("timestamp").alias("ts"), "k")
        .coalesce(1)
        .write.mode("append")
        .parquet(src)
    )
    conf_keys = S.rocksdb_state_conf()
    old = {k: spark.conf.get(k, None) for k in conf_keys}
    for k, v in conf_keys.items():
        spark.conf.set(k, v)
    try:
        q = (
            spark.readStream.schema("ts timestamp, k string")
            .parquet(src)
            .withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "1 minute"), "k")
            .count()
            .select(F.col("window.start").cast("string").alias("w"), "k", "count")
            .writeStream.format("memory")
            .queryName("rocksdb_sink")
            .outputMode("complete")
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    rows = {(r["w"], r["k"]): r["count"] for r in spark.table("rocksdb_sink").collect()}
    assert rows == {
        ("2024-01-01 00:00:00", "a"): 2,
        ("2024-01-01 00:02:00", "b"): 1,
    }
    # RocksDB leaves its own artifacts (sst/changelog/zip) under state/
    state_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(chk, "state"))
        for f in fs
    ]
    assert any(f.endswith((".sst", ".zip", ".changelog")) for f in state_files), state_files


def test_foreachbatch_incremental_dedup_ingest(spark, tmp_path):
    """Streaming ingest contract: a file stream processed one batch at a
    time through foreachBatch + incremental_dedup against the growing
    kept-snapshot must END with exactly the set a sequential batch
    replay of the same batches admits — the steady-state training-data
    ingest loop (dedup.incremental_dedup's docstring), driven by
    Structured Streaming instead of a driver for-loop."""
    import os
    import time

    from pyspark.sql import functions as F

    from hadoop_1_spark.operators import dedup

    batches = [
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        # 3 = exact dup of 1 (drop), 4 = fresh
        [(3, "alpha beta gamma delta"), (4, "iota kappa lambda mu")],
        # 5 = exact dup of 4 (drop), 6 = within-batch dup pair rep rule
        [(5, "iota kappa lambda mu"), (6, "nu xi omicron pi"),
         (7, "nu xi omicron pi")],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"b{i}"))
        part = next(
            p for p in os.listdir(tmp_path / f"b{i}") if p.endswith(".parquet")
        )
        dst = src / f"batch_{i}.parquet"
        os.rename(tmp_path / f"b{i}" / part, dst)
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    keep_base = str(tmp_path / "kept")

    def snapshot():
        try:
            return spark.read.parquet(keep_base)
        except Exception:
            return spark.createDataFrame([], "doc_id long, text string")

    def admit(batch_df, snap_df):
        flags = dedup.incremental_dedup(batch_df, snap_df, k=2)
        return batch_df.join(
            flags.where(F.col("keep") == 1).select("doc_id"), "doc_id"
        )

    def handle(batch_df, epoch_id):
        kept = admit(batch_df, snapshot())
        kept.write.mode("append").parquet(keep_base)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)

    got = sorted(r["doc_id"] for r in spark.read.parquet(keep_base).collect())

    # sequential batch replay of the identical loop
    snap = spark.createDataFrame([], "doc_id long, text string")
    for rows in batches:
        b = spark.createDataFrame(rows, "doc_id long, text string")
        snap = snap.unionByName(admit(b, snap)).localCheckpoint()
    expect = sorted(r["doc_id"] for r in snap.collect())

    assert got == expect
    assert got == [1, 2, 4, 6]  # dups 3, 5, 7 rejected


def test_stream_hll_matches_batch_sketch(spark, duck):
    """The streamed GroupState sketch must equal the batch HLL register
    state (monoid merge property) — checked via the shared oracle."""
    assert_query_matches_oracle(spark, duck, "stream_hll_distinct")


def test_stream_hll_batch_split_invariance(spark, tmp_path):
    """Same rows split across two source files (two micro-batch sets)
    -> identical final sketch to the single-file run."""
    import hadoop_1_spark.streaming as streaming
    from pyspark.sql import functions as F

    rows = [(i, f"t{i % 2}") for i in range(300)]
    df = spark.createDataFrame(rows, "user_id bigint, event_type string")
    one = str(tmp_path / "one")
    two = str(tmp_path / "two")
    df.coalesce(1).write.parquet(one)
    # two part files in one directory = two file-source splits
    df.where("user_id < 100").coalesce(1).write.parquet(two)
    df.where("user_id >= 100").coalesce(1).write.mode("append").parquet(two)

    schema = df.schema

    def run(path, glob):
        raw = (spark.readStream.schema(schema).option("pathGlobFilter", glob)
               .parquet(path))
        sink = streaming.run_to_table(streaming.stateful_hll(raw), spark, "update")
        return {
            (r.event_type, r.sum_inv, r.v_zero)
            for r in sink.groupBy("event_type")
            .agg(F.max(F.struct("n_seen", "sum_inv", "v_zero")).alias("s"))
            .select("event_type", "s.sum_inv", "s.v_zero").collect()
        }

    assert run(one, "*.parquet") == run(two, "*")


def test_stream_cms_matches_batch_grid(spark, duck):
    assert_query_matches_oracle(spark, duck, "stream_cms_counts")


def test_stream_cms_overestimates_only(spark):
    """CMS invariant on the streamed grid: est >= true count for every
    probed (event_type, user)."""
    from hadoop_1_spark import registry

    got = {
        (r.event_type, r.user_id): r.est
        for r in registry.QUERIES["stream_cms_counts"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    true = {
        (r.event_type, r.user_id): r.c
        for r in spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy("event_type", "user_id").count().withColumnRenamed("count", "c")
        .collect()
    }
    assert got, "no estimates returned"
    for k, est in got.items():
        assert est >= true.get(k, 0), (k, est, true.get(k, 0))


def test_stream_value_histogram_matches_batch(spark, duck):
    """The streamed 64-bin GroupState histogram must equal the batch
    binning (monoid merge property) — checked via the shared oracle."""
    assert_query_matches_oracle(spark, duck, "stream_value_histogram")


def test_stream_value_histogram_split_invariance(spark, tmp_path):
    """Same rows split across two source files -> identical final
    percentile readouts to the single-file run; exact percentile rule:
    value = i for i in 0..99 per type -> p50 bin lower bound is
    floor(49*1e6/8e6)*8e6 = 48e6 (cum*100 >= n*50 first holds at 49)."""
    import hadoop_1_spark.streaming as streaming
    from pyspark.sql import functions as F

    rows = [(float(i % 100), f"t{i % 2}") for i in range(200)]
    df = spark.createDataFrame(rows, "value double, event_type string")
    one = str(tmp_path / "one")
    two = str(tmp_path / "two")
    df.coalesce(1).write.parquet(one)
    df.where("value < 50").coalesce(1).write.parquet(two)
    df.where("value >= 50").coalesce(1).write.mode("append").parquet(two)

    schema = df.schema

    def run(path):
        raw = spark.readStream.schema(schema).parquet(path)
        sink = streaming.run_to_table(
            streaming.stateful_value_histogram(raw), spark, "update"
        )
        return {
            (r.event_type, r.p50, r.p95, r.p99)
            for r in sink.groupBy("event_type")
            .agg(F.max(F.struct("n_seen", "p50_q6", "p95_q6", "p99_q6")).alias("s"))
            .select("event_type", F.col("s.p50_q6").alias("p50"),
                    F.col("s.p95_q6").alias("p95"), F.col("s.p99_q6").alias("p99"))
            .collect()
        }

    got_one, got_two = run(one), run(two)
    assert got_one == got_two
    # value 0..99 uniform: p50 at value 49 -> bin 6 (48.0), p95 at 94 ->
    # bin 11 (88.0), p99 at 98 -> bin 12 (96.0)
    assert got_one == {
        ("t0", 48_000_000, 88_000_000, 96_000_000),
        ("t1", 48_000_000, 88_000_000, 96_000_000),
    }
