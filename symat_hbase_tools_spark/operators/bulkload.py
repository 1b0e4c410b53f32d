"""Bulk load: sorted, range-partitioned cell files — the HBase bulk-load analog.

HBase ingests at scale via pre-sorted HFiles, one per region, handed to
region servers wholesale (the path `hbase-spark`'s bulkLoad wraps). The
Spark-native equivalent: range-partition cells by row key into N "regions",
sort within each partition by full cell coordinates, and write one file per
region. Output files then have pairwise-disjoint key ranges in HBase scan
order (BinaryType range partitioning is unsigned-lexicographic), which is
exactly the contract HFile ingestion and any range-pruned reader need.

Region manifest (HBase meta): the load also writes ``<table>/_regions.json``
(per region its start row, file and cell count; ``sources/io.py`` says when
a reader trusts it). The write job gathers these itself: an ``observe`` over
the sorted partitions takes each partition's first row and cell count,
keyed by partition id so a retried task cannot add a region; partition
``p`` wrote ``part-<p>-…``. When files and partitions do not pair up one to
one (e.g. ``spark.sql.files.maxRecordsPerFile`` split a region), no
manifest is written. ``rewrite_region`` keeps it true across an in-place
copy-row.

Scale notes: repartitionByRange samples the key distribution, so region
boundaries auto-balance even with skewed keys; sortWithinPartitions is a
per-partition external sort (spills, never OOMs); the write is one file per
task with no further shuffle.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from symat_hbase_tools_spark.sources.bloom import with_row_bloom
from symat_hbase_tools_spark.sources.catalog import replace_file_in_place
from symat_hbase_tools_spark.sources.cells import CELLS_SCHEMA
from symat_hbase_tools_spark.sources.io import (
    Region,
    cells_schema_problems,
    data_file_names,
    write_manifest,
)

CELL_SORT = ["row", "family", "qualifier", "ts"]

#: low bits of monotonically_increasing_id: the row's index in its partition
_ROW_INDEX_MASK = (1 << 33) - 1


def conform_cells(cells: DataFrame) -> DataFrame:
    """``cells`` with ``CELLS_SCHEMA``'s columns and types, checked on the
    driver: a missing, extra or mistyped column raises ``ValueError``; an
    integral column is widened where a long is expected."""
    found = {
        f.name: "long" if isinstance(f.dataType, T.IntegralType) else f.dataType.jsonValue()
        for f in cells.schema.fields
    }
    problems = cells_schema_problems(found)
    if problems:
        raise ValueError("not a cells table: " + "; ".join(problems))
    if [(f.name, f.dataType) for f in cells.schema] == [(f.name, f.dataType) for f in CELLS_SCHEMA]:
        return cells
    return cells.select(*(F.col(f.name).cast(f.dataType) for f in CELLS_SCHEMA))


def bulk_load_cells(cells: DataFrame, path: str, num_regions: int = 16) -> None:
    """Write cells as num_regions sorted, range-disjoint parquet files and
    the region manifest (module docstring).

    Each file carries a row-key bloom filter (the HFile bloom analog, see
    sources/bloom.py): a Get reads only its region's file. On the Spark
    scan route the bloom adds ROW-GROUP pruning inside it; the driver route
    (``io.region_get``) prunes row groups by ``row`` statistics only, as
    pyarrow cannot read parquet bloom filters."""
    spark = cells.sparkSession
    # monotonically_increasing_id is (partition id << 33) + the row's index
    # in its partition; nondeterministic, so it cannot be evaluated inside
    # observe and rides as a column
    row_id = F.col("_id")
    pid = F.shiftright(row_id, 33)
    seen = Observation()
    regions = (
        conform_cells(cells)
        .repartitionByRange(num_regions, "row")
        .sortWithinPartitions(*CELL_SORT)
        .withColumn("_id", F.monotonically_increasing_id())
        .observe(
            seen,
            F.collect_list(
                F.when(row_id.bitwiseAND(_ROW_INDEX_MASK) == 0, F.struct(pid, "row"))
            ).alias("starts"),
            # one bin per partition id: exact while the ids number at most
            # num_regions, and far cheaper per row than num_regions count_ifs
            F.histogram_numeric(pid, F.lit(num_regions)).alias("cells"),
        )
        .drop("_id")
    )
    with_row_bloom(regions.write.mode("overwrite")).parquet(path)
    got = seen.get
    starts = {int(p): bytes(row) for p, row in got["starts"]}
    cells_of = {int(p): int(n) for p, n in got["cells"] or []}
    files = {}
    for name in data_file_names(spark, path):
        m = re.match(r"part-(\d+)-", name)
        files.setdefault(int(m.group(1)) if m else -1, []).append(name)
    if starts and set(files) == set(starts) and all(len(f) == 1 for f in files.values()):
        write_manifest(
            spark,
            path,
            sorted(
                (Region(starts[p], files[p][0], cells_of[p]) for p in starts),
                key=lambda r: r.start,
            ),
        )


def rewrite_region(cells: DataFrame, path: str, regions: tuple[Region, ...], i: int) -> None:
    """Replace region ``i`` of the manifest table at ``path`` with
    ``cells`` (that region's new content, whose rows stay in its key
    range): sorted by ``CELL_SORT`` into one file with the row bloom,
    swapped in for the region's old file through the Hadoop FS, then the
    manifest is replaced. The table keeps its N range-disjoint files. A
    crash between the swap and the manifest write leaves a manifest that no
    longer names the data files, so readers fall back to the whole table
    (``sources/io.py``)."""
    counted = Observation()
    out = (
        cells.coalesce(1)
        .sortWithinPartitions(*CELL_SORT)
        .observe(counted, F.count(F.lit(1)).alias("cells"))
    )
    new_file = replace_file_in_place(out, path, regions[i].file)
    region = Region(regions[i].start, new_file, int(counted.get["cells"]))
    write_manifest(cells.sparkSession, path, [*regions[:i], region, *regions[i + 1 :]])


def region_boundaries(cells: DataFrame, num_regions: int = 16) -> list[bytes]:
    """Pre-split points (the HBase create-table SPLITS argument): row-key
    quantiles computed with a single approx-quantile pass over key hashes is
    wrong for binary keys — sample actual keys instead.

    The sample is selected by a deterministic per-row hash predicate — a
    narrow map-side filter, NO global exchange (the previous
    ``orderBy(rand()).limit(n)`` formulation full-sorted every row key to
    pick ~1,600 of them). The filter's survivors (a few thousand rows) are
    sorted driver-side. The sampling fraction self-sizes from a count so
    the expected sample stays ~4x the target regardless of table size.
    """
    n = max(num_regions * 100, 1000)
    total = cells.count()
    if total == 0:
        return []
    # hash-bucket membership: keep ~4n rows, deterministic across runs and
    # partition layouts (same discipline as operators/sampling.py)
    buckets = max(total // (4 * n), 1)
    sample = sorted(
        bytes(r["row"])
        for r in cells.select("row")
        .filter(F.pmod(F.xxhash64(F.lit(42), F.col("row")), F.lit(buckets)) == 0)
        .collect()
    )
    if not sample:
        return []
    step = max(len(sample) // num_regions, 1)
    return sample[step::step][: num_regions - 1]
