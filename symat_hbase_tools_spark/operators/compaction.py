"""HBase storage-maintenance semantics on the cells layer: compaction,
version retention, TTL expiry.

The reference operates on live HBase tables where the RegionServer applies
these rules at read/compaction time (max-versions is why CopyRow's Get sees
one version per qualifier, CopyRow.java:107-113; delete markers ride through
the cell ``type`` CopyRow carries at CopyRow.java:135). On a cells DataFrame
the same rules are explicit rewrite operators — the batch jobs a 100 TB
cells lake runs periodically to reclaim space.

Scale shapes:
  * major_compact — ONE partially-aggregated shuffle (the visible_cells
    max-packing aggregation); output is the minimal live set.
  * retain_versions — per-coordinate top-n by (ts, marker): a window sort
    over all versions. Retention genuinely needs the n newest rows per key,
    so the sort is inherent; it shuffles the raw version set once. Run it as
    a maintenance pass, not a read-path view.
  * expire_ttl — a narrow ts filter; pushes to the scan (parquet row-group
    stats prune whole files of expired data), no shuffle at all.

Counters: ``cli compact`` prints CELLS_BEFORE/CELLS_AFTER/RECLAIMED from
the job that writes the compacted table (``major_compact_counted``), the
way CorruptRowsMR publishes its counters from the probe job itself — one
scan, not the three a write plus ``compaction_report`` would take.
``compaction_report`` stays the lazy query form of the same counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from symat_hbase_tools_spark.operators.kv import latest_cells, visible_cells
from symat_hbase_tools_spark.sources.io import read_cells


def major_compact(cells: DataFrame) -> DataFrame:
    """Major compaction: the minimal rewrite of a cells table — only the
    latest live Put per (row, family, qualifier) survives; shadowed
    versions, delete markers, and the data they masked are all dropped."""
    return visible_cells(cells)


def major_compact_counted(cells: DataFrame) -> tuple[DataFrame, Observation]:
    """``major_compact`` plus an Observation that the action running it
    fills with ``cells_before`` and ``cells_after`` (read ``.get`` after
    the action).

    The counters are observed after the aggregate's shuffle, in the result
    stage: Spark may apply a map stage's accumulator updates twice when it
    re-runs that stage, a result stage's only once per partition.
    ``cells_before`` sums the per-coordinate version counts the aggregate
    carries; ``cells_after`` counts the coordinates whose latest cell is a
    Put.
    """
    counters = Observation()
    latest = latest_cells(cells, with_versions=True).observe(
        counters,
        F.coalesce(F.sum("n_versions"), F.lit(0)).alias("cells_before"),
        F.count_if(F.col("type") == "Put").alias("cells_after"),
    )
    return latest.filter(F.col("type") == "Put").drop("n_versions"), counters


def compaction_report(cells: DataFrame) -> DataFrame:
    """Space-reclaim stats for a major compaction (counter surface, K3
    analogue): cells before/after and how many a rewrite would drop."""
    before = cells.select(F.count(F.lit(1)).alias("cells_before"))
    after = major_compact(cells).select(F.count(F.lit(1)).alias("cells_after"))
    return before.crossJoin(after).select(
        "cells_before",
        "cells_after",
        (F.col("cells_before") - F.col("cells_after")).alias("reclaimed"),
    )


def retain_versions(cells: DataFrame, n: int) -> DataFrame:
    """HBase ``VERSIONS=n`` retention: keep the newest n cells per
    (row, family, qualifier). Delete markers count as versions and, at equal
    ts, order above Puts — identical tie semantics to ``latest_cells``."""
    w = Window.partitionBy("row", "family", "qualifier").orderBy(
        F.desc("ts"), F.desc(F.col("type") == "Delete")
    )
    return (
        cells.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def expire_ttl(cells: DataFrame, now_ms: int, ttl_ms: int) -> DataFrame:
    """HBase TTL: cells written more than ``ttl_ms`` before ``now_ms`` are
    expired. A pushed-down range filter — row-group stats prune whole files
    of old data, which is exactly how TTL sweeps stay cheap at 100 TB."""
    return cells.filter(F.col("ts") >= int(now_ms) - int(ttl_ms))


def compact_files(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> dict:
    """Small-file compaction (the OPTIMIZE-style rewrite): coalesce a cells
    directory into ~target-sized, row-range-sorted files.

    The append-only streaming ingest leaves one file per micro-batch; this
    periodic rewrite restores scan efficiency — fewer tasks, full row
    groups, and row-range-disjoint files so key-range scans prune at the
    FILE level (the same property bulkload's region files have). Rewrites
    to a new path; the caller swaps atomically (rename / metastore repoint).

    Returns {files_before, files_after, bytes}.
    """
    import math

    df = read_cells(spark, src_path)
    # Hadoop FS listing works for any scheme (local, HDFS, s3a, ...)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs_path = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = fs_path.getFileSystem(conf)
    statuses = [
        s
        for s in fs.listStatus(fs_path)
        if s.isFile() and s.getPath().getName().endswith(".parquet")
    ]
    total_bytes = sum(s.getLen() for s in statuses)
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    from symat_hbase_tools_spark.sources.bloom import ndv_for_bytes, with_row_bloom

    # bloom ndv sized from the actual byte budget: a row group can never
    # hold more than min(target file size, the 128 MB row-group default)
    # of rows, so the 1M default would bloat small-target rewrites
    ndv = ndv_for_bytes(min(int(target_file_bytes), 128 * 1024 * 1024))
    (
        with_row_bloom(
            df.repartitionByRange(n_files, "row")
            .sortWithinPartitions("row", "family", "qualifier", "ts")
            .write.mode("overwrite"),
            ndv=ndv,
        ).parquet(dst_path)
    )
    dst = jvm.org.apache.hadoop.fs.Path(dst_path)
    files_after = sum(
        1
        for s in fs.listStatus(dst)
        if s.isFile() and s.getPath().getName().endswith(".parquet")
    )
    return {
        "files_before": len(statuses),
        "files_after": files_after,
        "bytes": total_bytes,
    }
