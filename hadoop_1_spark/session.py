"""SparkSession factory + table loading helpers.

Replaces the reference's JobConf/JobClient bootstrap
(``mapred/JobConf.java``, ``mapred/JobClient.java:897``): instead of a typed
key-value job description submitted to a JobTracker, we build one
SparkSession whose Catalyst planner owns scheduling, shuffle, and sort.

Scale notes (100 TB design intent):
- AQE on: runtime partition coalescing + skew-join splitting replace the
  reference's manual ``setNumReduceTasks`` sizing.
- shuffle.partitions defaults to the local core count here; on a real
  cluster AQE re-plans from ``spark.sql.adaptive.coalescePartitions``.
- Arrow enabled so Pandas-UDF paths are vectorized.
- Broadcast policy: broadcast the small dimension tables (the
  reference's DistributedCache map-side join, J7), and spread the joins
  that touch a fact table over reducer partitions, as Hadoop does.

  1. The static planner's size estimate is the parquet file size scaled
     by the pruned columns. Parquet is compressed, so that underestimates
     the in-memory rows. ``PARQUET_EXPANSION`` (``fileCompressionFactor``)
     corrects it: the sf0.1 lineitem join columns estimate at 2.98 MB and
     broadcast 33.1 MiB (34.8 MB), a ratio of 11.6, rounded up to 12.
     Corrected, lineitem's join columns (36 MB) and orders' (18 MB)
     exceed the 10 MB static threshold; customer, part, supplier, nation
     and region stay under it and are still broadcast statically.
     Disabling the threshold instead (``-1``) would turn unhinted
     non-equi inner joins into CartesianProduct, and give every small
     join a shuffle stage.
  2. AQE may still turn a shuffle join into a broadcast join once it has
     measured the shuffled sides. Its local shuffle reader would then
     read the other side per mapper, and a fact table stored as one
     parquet row group has one mapper, so the probe and the aggregate
     above it run as one task. ``localShuffleReader.enabled=false``
     keeps the reducer-partition read, so that work is spread over all
     cores.

Schema cache: inferring a parquet schema is a Spark job (footer read and
file listing), and every query loads its tables afresh.
``parquet_schema`` keeps each table's inferred schema per session, keyed by
path and the file's ``(st_ino, st_mtime_ns, st_size)`` stamp; on a hit,
``load_table`` reads with ``spark.read.schema(cached).parquet(path)``,
which runs no job. A table rewritten at the same path gets a new stamp
(new inode for write-then-rename and Spark overwrites, new mtime/size for
in-place rewrites; a directory's stamp moves when part files are added,
removed or renamed into it) and is inferred again. Only the schema is
cached, not the DataFrame: each load is a fresh relation with fresh
attribute ids, so two loads of one table still self-join. Paths that are
not local files (``os.stat`` fails) are never cached.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Temporal columns in the TESTDATA.md star schema (the complete list —
# normalize_timestamps folds exactly these when a nanos-vintage read
# surfaces them as epoch-nanos longs).
TEMPORAL_COLUMNS = frozenset({"ts", "o_orderdate", "l_shipdate"})

# ratio of in-memory row size to parquet file size (module docstring,
# "Broadcast policy", point 1)
PARQUET_EXPANSION = 12.0

# session -> {path: (file stamp, inferred schema)}; see module docstring
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def get_spark(app_name: str = "hadoop_1_spark", cpus: int | None = None) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver harness contract) or
    all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # module docstring, "Broadcast policy"
        .config("spark.sql.sources.fileCompressionFactor", str(PARQUET_EXPANSION))
        .config("spark.sql.adaptive.localShuffleReader.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Driver testdata parquet carries TIMESTAMP(NANOS) (pandas/pyarrow
        # default); Spark has no nanos timestamp — read as epoch-nanos long
        # and convert explicitly via ts_nanos()/to_ts().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # warehouse for bucketed tables (J1 shuffle-free joins); kept out of
        # the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ts_nanos(col):
    """Convert an epoch-nanos long column (see nanosAsLong below) to a
    microsecond timestamp. Integer div, NOT '/': double division loses
    microseconds at 1e18-ns epoch magnitudes (53-bit mantissa)."""
    from pyspark.sql import Column, functions as F

    if not isinstance(col, Column):
        col = F.col(col)
    micros = F.floor(col.cast("decimal(38,0)") / F.lit(1000)).cast("long")
    return F.timestamp_micros(micros)


def normalize_timestamps(df: DataFrame, schema: StructType) -> DataFrame:
    """Canonicalize temporal columns across driver-testdata vintages.

    The driver has shipped the events/orders/lineitem temporal columns as
    TIMESTAMP(NANOS) parquet (read here as epoch-nanos longs under
    nanosAsLong) in earlier rounds and as TIMESTAMP_MICROS(isAdjustedToUTC
    =false) (read as TIMESTAMP_NTZ) currently. Downstream operators assume
    ONE type, so every vintage is folded to session-tz TIMESTAMP at micro
    precision; the session timezone is pinned to UTC (get_spark/load_table)
    so the NTZ->TZ cast is the identity on the underlying micros and
    unix_micros() agrees bit-for-bit with DuckDB's tz-free epoch_us().

    ``schema`` is ``df``'s schema, which the callers already hold
    (``parquet_schema``), so reading it costs no ``df.schema`` round-trip."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    out = df
    for field in schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            out = out.withColumn(field.name, F.col(field.name).cast("timestamp"))
        elif field.name in TEMPORAL_COLUMNS and isinstance(field.dataType, LongType):
            # a known temporal column (TESTDATA.md contract; TEMPORAL_COLUMNS
            # is the complete list) read from the nanos vintage arrives as an
            # epoch-nanos long under nanosAsLong
            out = out.withColumn(field.name, ts_nanos(field.name))
    return out


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, cached per session
    by path and file stamp (module docstring, "Schema cache").

    Sets nanosAsLong + UTC session timezone on the live session first — a
    caller may pass its own SparkSession (``__spark_entry__``'s harness
    does), which won't have get_spark's config, and the inferred schema
    depends on nanosAsLong."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        st = os.stat(path)
    except OSError:
        # not a local file: let Spark resolve the path (and raise for it)
        return spark.read.parquet(path).schema
    # stamped BEFORE inferring: a rewrite racing the inference (or another
    # thread's lookup) can only cause a miss, never a stale hit
    stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
    cache = _SCHEMAS.setdefault(spark, {})
    hit = cache.get(path)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    cache[path] = (stamp, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema parquet table (TESTDATA.md contract), temporal
    columns normalized to UTC TIMESTAMP (see normalize_timestamps). The
    schema comes from ``parquet_schema``, so a warm load runs no Spark
    job."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = parquet_schema(spark, path)
    return normalize_timestamps(spark.read.schema(schema).parquet(path), schema)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read several tables; also registers each as a temp view so SQL-form
    operators can reference them."""
    out: dict[str, DataFrame] = {}
    for name in names or TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
