"""Relational table loaders for the driver's parquet test data.

All tables load as plain parquet scans so Catalyst gets predicate pushdown,
column pruning and partition-sized splits for free. The one normalization:
``events.ts`` is exposed as a UTC TimestampType column plus exact epoch-nanos
``ts_ns``, whatever the physical parquet encoding is — legacy int64 nanos,
timestamp[us] without UTC adjustment (Spark's TIMESTAMP_NTZ), or a plain
UTC-adjusted timestamp. A canary test asserts this invariant so regenerated
testdata can't silently break every time-based query again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from symat_hbase_tools_spark.session import apply_runtime_confs

TABLE_NAMES = (
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


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize the events table to (``ts`` TimestampType UTC, ``ts_ns``
    exact epoch nanos) regardless of the physical parquet encoding.

    Handles three encodings the driver's generator has produced:
    ``bigint`` (legacy int64 epoch nanos), ``timestamp_ntz`` (parquet
    timestamp[us] without UTC adjustment — session tz is pinned UTC so a
    plain cast is bit-exact with DuckDB's epoch_us), and plain ``timestamp``.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # keep exact nanos, expose a usable microsecond timestamp (floor
        # division — matches DuckDB's epoch_us).
        df = df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "ts_ns", F.unix_micros("ts") * F.lit(1000)
        )
    elif ts_type == "timestamp":
        df = df.withColumn("ts_ns", F.unix_micros("ts") * F.lit(1000))
    return df


# Scan cache: a DataFrame is an immutable logical plan, so the same
# (session, path) scan can be handed out repeatedly. Without this, every
# query pays file-listing + parquet-footer-schema reads (~0.1-0.7 s of
# driver-side latency) to rebuild a plan node that cannot differ. Keyed on
# the file's mtime so regenerated testdata invalidates naturally.
_SCAN_CACHE: dict[tuple, DataFrame] = {}

#: wholesale-evict past this size — bounds growth across many sessions /
#: sf_dirs / regenerated-mtime generations in one long-lived process
_SCAN_CACHE_MAX = 1024


def table_path(sf_dir: str, name: str) -> str:
    """Where the table ``name`` of ``sf_dir`` lives."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; normalizes events.ts -> (TimestampType, ts_ns)."""
    apply_runtime_confs(spark)
    path = table_path(sf_dir, name)
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    key = (id(spark), path, mtime)
    hit = _SCAN_CACHE.get(key)
    # session pinned in the value: a GC'd session can't alias a live id()
    if hit is not None and hit[0] is spark:
        return hit[1].alias(name)
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_events(df)
    if len(_SCAN_CACHE) >= _SCAN_CACHE_MAX:
        _SCAN_CACHE.clear()
    _SCAN_CACHE[key] = (spark, df)
    # Callers get a FRESH lightweight wrapper (one py4j call) around the
    # shared analyzed plan, never the cached object itself: a JVM Dataset
    # memoizes its optimized plan on first use, so if a caller .cache()d
    # the shared object and later unpersisted it, the memoized
    # InMemoryRelation would outlive the cache — inputFiles() turns empty
    # and scan_fanout() mistakes a file scan for an in-memory relation
    # (observed as a spurious repartition Exchange in map-only plans).
    return df.alias(name)


def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
