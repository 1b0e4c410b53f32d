"""Sequence packing — assemble documents into fixed-token-budget training
sequences (the "concat-and-chunk" packing an LLM data pipeline runs after
dedup/quality filtering).

Semantics: documents in a deterministic global order (doc_id) are laid
end-to-end on a token tape; sequence i owns tape range
[i*budget, (i+1)*budget). A document is assigned to the sequence where it
STARTS (boundary-straddling documents truncate into the next sequence at
tokenization time — standard concat-and-chunk behavior, cheap and exact to
reason about, unlike first-fit bin packing which is inherently sequential).

Scale shape: the global running token count is a distributed prefix sum —
NOT a global window (a partition-less window funnels 100 TB through ONE
task). Implementation:
  1. range-repartition by doc_id (layout-independent order),
  2. within-partition cumulative sum (window partitioned by the range id),
  3. per-partition totals -> driver (one row per partition) -> exclusive
     prefix offsets -> broadcast join back.
Driver state is O(partitions); everything heavy stays distributed. The
result is identical on 1 or 1000 executors because step 1 pins the order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from symat_hbase_tools_spark.sources.io import local_frame

#: whitespace token count — matches text_analysis.token_stats and the DuckDB
#: oracle (len(string_split_regex(trim(text), ' +')))
def _n_tokens(text: F.Column) -> F.Column:
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r" +"))
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int | None = None,
) -> DataFrame:
    """Assign every document a training-sequence id under a token budget.

    Output: id_col, n_tokens, start_offset (position on the token tape),
    seq_id (BIGINT). Deterministic in doc order regardless of input layout.
    """
    from pyspark import StorageLevel

    from symat_hbase_tools_spark.plans.partitioning import scan_fanout

    n_tok = _n_tokens(F.col(text_col)).cast("long")
    base = docs.select(F.col(id_col), n_tok.alias("n_tokens"))
    # bytes-proportional range partitioning: tiny corpora collapse to one
    # partition (no 32-task window over near-empty ranges); big corpora cap
    # at cluster parallelism
    parts = n_partitions or scan_fanout(base.sparkSession, docs)
    ranged = base.repartitionByRange(parts, id_col).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # persist: the windowed table feeds the per-partition totals AND the
    # final join — without it the scan + range exchange + window run twice
    local = ranged.withColumn("_local_cum", F.sum("n_tokens").over(w)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # one row per partition -> exclusive prefix offsets on the driver
    totals = (
        local.groupBy("_pid").agg(F.max("_local_cum").alias("_total")).collect()
    )
    offsets, running = {}, 0
    for r in sorted(totals, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = running
        running += r["_total"]
    spark = docs.sparkSession
    off_df = local_frame(
        spark, [(pid, off) for pid, off in offsets.items()], "_pid int, _offset long"
    )
    return (
        local.join(F.broadcast(off_df), "_pid")
        .select(
            id_col,
            "n_tokens",
            (F.col("_local_cum") - F.col("n_tokens") + F.col("_offset")).alias(
                "start_offset"
            ),
        )
        # integer division — exact at any tape length (double division is not
        # past 2^53 tokens, which a 100 TB corpus exceeds)
        .withColumn("seq_id", F.expr(f"start_offset div {int(budget)}"))
    )


def packing_stats(packed: DataFrame, budget: int) -> DataFrame:
    """Per-sequence fill report: docs, tokens started, fill ratio vs budget."""
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .withColumn(
            "fill",
            (F.col("n_tokens").cast("double") / budget),
        )
    )
