"""Partition right-sizing for compute-bound per-row stages.

Fixed fan-out (``repartition(defaultParallelism)``) is wrong at BOTH ends of
the scale axis: a tiny corpus pays 32-task scheduling overhead on near-empty
partitions (measured 3-6x wall-clock on the dedup bench queries), and a
100 TB corpus needs no fan-out at all (the source already has more splits
than cores). Bytes-proportional fan-out sizes tasks to the work: one task
per ~N input bytes, capped at cluster parallelism, floor 1.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: default task granularity for text/shingle compute. Measured per-core
#: throughput of the heavy text passes (regex alternation, shingle+minhash)
#: is ~5 MB/s of COMPRESSED parquet input, so 512 KB ~= 100 ms of real work
#: per task — two orders of magnitude above scheduling overhead, while a
#: single-split file (the 10x scale probe's documents table) still fans out
#: to every core instead of pinning one. (2 MB was the previous value; at
#: sf1 it left text_quality_score 11x slower on 10x data — one fat task.)
BYTES_PER_TASK = 512 * 1024


def scan_fanout(
    spark: SparkSession, df: DataFrame, bytes_per_task: int = BYTES_PER_TASK
) -> int:
    """Right-sized partition count for per-row compute over a file-backed
    ``df``: bytes-proportional, capped at cluster parallelism, floor 1."""
    try:
        files = df.inputFiles()
        if not files:
            # not file-backed (in-memory relation, stream, ...): size is
            # unknown — keep full parallelism rather than guessing small
            return spark.sparkContext.defaultParallelism
        total = 0
        for uri in files:
            path = uri[len("file:"):] if uri.startswith("file:") else uri
            total += os.path.getsize(path)
        by_bytes = max(1, total // bytes_per_task)
    except OSError:
        by_bytes = spark.sparkContext.defaultParallelism
    return int(min(spark.sparkContext.defaultParallelism, by_bytes))


def fanout(
    spark: SparkSession, df: DataFrame, bytes_per_task: int = BYTES_PER_TASK
) -> DataFrame:
    """Fan ``df`` OUT to its right-sized partition count — never in.

    Only repartitions when the source has FEWER partitions than the
    bytes-proportional target (the small-file case the fan-out exists for:
    spreading a few fat splits before compute-bound per-row work). A source
    that already has more splits than the target — the 100 TB case, where
    ``scan_fanout`` caps the target at cluster parallelism — is left
    untouched: coalescing it through a full shuffle would pay an exchange
    of the entire input just to shrink task count, which the scheduler
    handles fine as-is. A target of 1 returns ``df`` without asking its
    partition count (never below 1), which plans the query.
    """
    target = scan_fanout(spark, df, bytes_per_task)
    if target > 1 and df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
