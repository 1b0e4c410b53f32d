"""SparkSession construction tuned for the engine.

Local-mode testing runs on local[N] (one JVM); the same code is designed to run
on a 1000-executor cluster — every knob here is also correct at that scale
except the master/driver-memory lines, which a cluster submit overrides.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable (SQLConf) settings the engine relies on. These are applied
# both at session build time and defensively to an externally provided session
# (the verification driver passes its own SparkSession into the entry points).
RUNTIME_CONFS = {
    # Oracle comparisons run against DuckDB, whose timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized reader
    # rejects; read as raw long nanos and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime partition coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF exchange (the only Python-side hot paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark 4's DataFrame debugging wraps EVERY DataFrame API call with a
    # Python stack walk plus 3 py4j round-trips (conf.get + origin set +
    # clear) to enrich error messages with user call sites. Measured ~0.4 s
    # of the 1.7 s kv_audit_report plan construction, proportional across
    # every plan — a long-lived query service trades the error-message
    # garnish for ~2x faster plan construction. (Read once per process:
    # must be set before the first DataFrame call, which both the builder
    # and apply_runtime_confs paths do.)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic SQL confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A static conf on this build — fine, the builder path sets it.
            pass
    return spark


def _driver_memory() -> str:
    """$SPARK_DRIVER_MEMORY, else a third of physical memory capped at 48g:
    an unbounded heap on a small host lets a long local run's JVM grow past
    the machine and get OOM-killed."""
    mem = os.environ.get("SPARK_DRIVER_MEMORY")
    if mem:
        return mem
    try:
        with open("/proc/meminfo") as f:
            total_mb = int(f.readline().split()[1]) // 1024
    except (OSError, ValueError, IndexError):
        return "48g"
    return f"{min(48 * 1024, total_mb // 3)}m"


def get_spark(
    app_name: str = "symat-hbase-tools-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned local session.

    cpus defaults to $SPARK_GRAFT_CPUS or all cores; shuffle partitions default
    to the core count (not Spark's 200 — wrong for local mode).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except (TypeError, ValueError):
            shuffle_partitions = os.cpu_count() or 8
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
