"""copy_row — the CopyRow.java equivalent (SURVEY.md §3.1).

Point-read one row's cells, optionally rewrite every cell's timestamp (the
"version bump", /root/reference/src/main/java/org/apache/symat/CopyRow.java:120-137),
and upsert them into a destination cells table (dest may equal source —
README.md:12-17).

Spark shape: filter (pushed-down binary equality) -> withColumn(ts) ->
one Arrow collect of the puts -> cell-granularity upsert (anti-join +
union) of that local table. All built-in expressions.

Region addressing: the point read is ``kv.point_get``, so on a table whose
region manifest holds (``sources/io.py``) it reads the key's region file
only, and ``copy_row_in_place`` upserts into that region and rewrites its
one file (``bulkload.rewrite_region``): the table keeps its N range-disjoint
files and a true manifest. Other tables take ``copy_row`` and a whole-table
rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: cell identity for upsert — an HBase Put overwrites an existing cell with
#: the same coordinates (row, family, qualifier, ts)
CELL_KEY = ["row", "family", "qualifier", "ts"]


def copy_row_cells(
    cells: DataFrame,
    row_key: bytes,
    override_ts: int | None = None,
    latest_only: bool = True,
) -> DataFrame:
    """The cells that CopyRow would write: one row's cells, ts optionally
    rewritten (T1). Empty result == the reference's empty-row guard case
    (CopyRow.java:114-117) — the caller checks ``.limit(1).count()``.

    ``latest_only=True`` matches the reference exactly: its ``Get`` uses the
    default max-versions=1, so only the newest visible version of each
    qualifier is read and copied (CopyRow.java:107-113). Pass False to copy
    every stored version (a full-history replica repair).
    """
    from symat_hbase_tools_spark.operators.kv import point_get, visible_cells

    row = point_get(cells, row_key)
    if latest_only:
        row = visible_cells(row)
    if override_ts is not None:
        row = row.withColumn("ts", F.lit(int(override_ts)).cast("long"))
    return row


def upsert_cells(dest: DataFrame, puts: DataFrame) -> DataFrame:
    """Apply Puts to a destination cells table (K1).

    HBase Put semantics: same-coordinate cells are overwritten, new
    coordinates are added. anti-join keeps unaffected dest cells; union adds
    the puts. At scale the anti-join broadcasts `puts` (a single row's cells).
    """
    keep = dest.join(F.broadcast(puts.select(*CELL_KEY)), CELL_KEY, "left_anti")
    return keep.unionByName(puts)


def copy_row(
    source: DataFrame,
    dest: DataFrame,
    row_key: bytes,
    override_ts: int | None = None,
    latest_only: bool = True,
) -> tuple[DataFrame, int]:
    """Full CopyRow flow. Returns (new_dest_cells, n_cells_copied).

    n_cells_copied == 0 reproduces the empty-row guard: dest is returned
    unchanged and nothing is written (CopyRow.java:114-117).

    The puts (one row's cells) are collected once, as Arrow, and upserted
    as a local table: the lazy read would otherwise run again for the
    anti-join's broadcast and for the union.
    """
    puts = copy_row_cells(source, row_key, override_ts, latest_only)
    table = puts.toArrow()
    if table.num_rows == 0:
        return dest, 0
    local = dest.sparkSession.createDataFrame(table, puts.schema)
    return upsert_cells(dest, local), table.num_rows


def copy_row_in_place(
    cells: DataFrame, row_key: bytes, override_ts: int | None = None
) -> int | None:
    """CopyRow into the table ``cells`` was read from, rewriting only the
    key's home region. Returns the cells copied (0: nothing written), or
    ``None`` when ``cells`` is not the held scan of a manifest table or the
    key lies before its first region — the caller then takes ``copy_row``
    and a whole-table rewrite."""
    from symat_hbase_tools_spark.operators.bulkload import rewrite_region
    from symat_hbase_tools_spark.sources.io import covering_cells, held_regions

    held = held_regions(cells)
    if held is None:
        return None
    path, regions = held
    home = sum(r.start <= row_key for r in regions) - 1
    if home < 0:
        return None
    region, n = copy_row(
        cells, covering_cells(cells, row_key, row_key, True), row_key, override_ts
    )
    if n:
        rewrite_region(region, path, regions, home)
    return n
