"""Session-wide tracked persistence for operator-internal tables.

Operators that materialize an intermediate (dedup signature tables, the
range-partitioned relation behind ``sort.global_rank``) persist it through
``persist_tracked`` so a long-lived session running the whole query catalog
(the driver does) can release the previous query's caches instead of
accumulating cached blocks until LRU eviction competes with shuffle memory.

Iterative operators truncate lineage with ``local_checkpoint``, which
registers the checkpoint's RDD: ``DataFrame.unpersist()`` does not free a
local checkpoint's blocks (they belong to the RDD under the plan's
``LogicalRDD``, not to the cache manager), so the release unpersists that
RDD itself.

Streaming memory sinks register a temp view per run; ``track_view`` lets
the same release drop them, so a long-lived session does not collect one
``stream_sink_N`` view per streaming query.

``registry.register``'s dispatch wrapper calls ``release_caches()`` before
EVERY query build: by then the previous query's result has been collected,
so its caches are dead weight. Bounded invariant: at most one query's
caches and views are live at any time. (Unpersisting a cache is always
safe — a caller that executes an older DataFrame afterwards just
recomputes; a DataFrame read from a view before the drop is already
resolved and stays readable. A released local checkpoint is not: its
lineage is cut, so a DataFrame built on it fails if executed after the
next query's release.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_LIVE_CACHES: list[DataFrame] = []
_LIVE_VIEWS: list[tuple[SparkSession, str]] = []
_LIVE_CHECKPOINTS: list = []  # JVM RDDs behind local checkpoints


def persist_tracked(df: DataFrame) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE_CACHES.append(df)
    return df


def local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)``, its blocks registered for
    release (module docstring)."""
    out = df.localCheckpoint(eager=False)
    _LIVE_CHECKPOINTS.append(out._jdf.queryExecution().analyzed().rdd())
    return out


def track_view(spark: SparkSession, name: str) -> None:
    """Register a session temp view for release."""
    _LIVE_VIEWS.append((spark, name))


def release_caches() -> None:
    while _LIVE_CACHES:
        _LIVE_CACHES.pop().unpersist()
    while _LIVE_CHECKPOINTS:
        _LIVE_CHECKPOINTS.pop().unpersist(False)
    while _LIVE_VIEWS:
        spark, name = _LIVE_VIEWS.pop()
        spark.catalog.dropTempView(name)
