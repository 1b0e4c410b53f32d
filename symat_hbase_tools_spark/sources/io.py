"""Bulk import/export of cells tables across storage formats.

The reference's I/O surface is HBase RPC + HDFS TSV (README.md:69-81); the
engine generalizes it: a cells DataFrame round-trips through any of Spark's
columnar/row formats. Binary columns need care in text formats — CSV/JSON
get the HBase-shell escaped rendering (functions/bytes_binary), so exported
files are also human-readable the way HBase shell prints keys.

Read contract for parquet cells tables (``read_cells``): the reader gets
the fixed ``CELLS_SCHEMA``, so opening a table runs no Spark job (without a
schema, Spark 4.1 launches a schema-merge job on every open, even with
mergeSchema off). A pinned schema would read any other parquet table as
all-NULL columns without error, so the driver first reads the footer of one
data file and checks its columns against ``CELLS_SCHEMA`` — a missing, extra
or mistyped column raises before any plan is built.

Region manifest (HBase meta): a bulk load writes ``<table>/_regions.json``,
per region in key order its start row (region i holds
``[start_i, start_{i+1})``), its one data file and its cell count.
``read_cells`` trusts a manifest only when it names exactly the table's
data files, and holds it with the table's scan under a key of two Hadoop FS
status calls (directory mtime; manifest mtime and length). While the key
matches, ``read_cells`` returns the held scan without a footer read, and
``covering_cells`` narrows it to the region files a key range touches (the
reads of ``kv.point_get``, ``kv.range_scan`` and ``copy_row``). Another
writer's file, an overwrite, a deleted manifest, or a crash between a
region swap and its manifest write each change the key, and a manifest that
is missing or no longer names the data files leaves the whole-table read.

Driver-side rows (a union-find's labels, a query's terms, a handful of
offsets) enter Spark through ``local_frame``, as one Arrow table.

Format guidance at scale (docstrings are the contract, tests enforce
round-trips):
  * parquet — the default: columnar, predicate pushdown, column pruning.
  * orc     — same class; use when the lakehouse standard is ORC.
  * json/csv — interchange only: no pushdown, full scans, escaped binary.
Writers accept partition columns — e.g. partition exported cells by family
for family-pruned reads.
"""

from __future__ import annotations

import functools
import json
import os
from collections import OrderedDict
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from symat_hbase_tools_spark.functions.bytes_binary import (
    to_bytes_binary_col,
    to_string_binary_col,
)
from symat_hbase_tools_spark.sources.cells import CELLS_SCHEMA

_BINARY_COLS = ("row", "qualifier", "value")


def _escape_binary(cells: DataFrame) -> DataFrame:
    out = cells
    for c in _BINARY_COLS:
        out = out.withColumn(c, to_string_binary_col(F.col(c)))
    return out


def _unescape_binary(df: DataFrame) -> DataFrame:
    out = df
    for c in _BINARY_COLS:
        out = out.withColumn(c, to_bytes_binary_col(F.col(c)))
    return out.select("row", "family", "qualifier", "ts", "type", "value")


def write_cells(
    cells: DataFrame, path: str, fmt: str = "parquet", partition_by: list[str] | None = None
) -> None:
    writer = cells.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt in ("parquet", "orc"):
        writer.format(fmt).save(path)
    elif fmt == "json":
        _escape_binary(cells).write.mode("overwrite").json(path)
    elif fmt == "csv":
        _escape_binary(cells).write.mode("overwrite").option("header", True).csv(path)
    else:
        raise ValueError(f"unsupported format: {fmt}")


#: footer key under which Spark's parquet writer stores the row schema (JSON)
_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


@functools.lru_cache(maxsize=1)
def _jvm_classes(jvm):
    """JVM class handles the footer check uses, resolved once per gateway:
    each package segment of ``jvm.org.apache...`` is one py4j round trip."""
    return (
        jvm.org.apache.hadoop.fs.Path,
        jvm.org.apache.parquet.hadoop.ParquetFileReader,
        jvm.org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter,
        jvm.org.apache.spark.sql.internal.SQLConf,
    )


def cells_schema_problems(found: dict) -> list[str]:
    """Every column of ``found`` (name -> JSON type; ``None`` matches any
    type) that is missing from, extra to, or typed differently than
    ``CELLS_SCHEMA``."""
    want = {f.name: f.dataType.jsonValue() for f in CELLS_SCHEMA.fields}
    problems = [f"missing column {c!r}" for c in want if c not in found]
    problems += [f"extra column {c!r}" for c in found if c not in want]
    problems += [
        f"column {c!r} is {t}, expected {want[c]}"
        for c, t in found.items()
        if c in want and t is not None and t != want[c]
    ]
    return problems


def _data_files(spark: SparkSession, conf, path: str, levels: int):
    """(data-file statuses, partition depth) of the parquet table at
    ``path``, or ``None`` when it holds no data file.

    The files directly under ``path``, else those of the first level of
    ``<col>=<value>/`` directories that has any, down to ``levels`` levels
    (at most one per column); a ``path`` that is itself a file is its one
    data file. One glob per level, through the Hadoop FileSystem API (any
    scheme: local, hdfs://, s3a://). The statuses are a Java array, so each
    element read is a py4j round trip: index only what you use."""
    Path = _jvm_classes(spark._jvm)[0]
    root = Path(path)
    fs = root.getFileSystem(conf)
    pattern = path
    for depth in range(levels):
        hits = fs.globStatus(Path(f"{pattern}/*.parquet"))
        if len(hits):
            return hits, depth
        pattern += "/*=*"
    if not fs.isFile(root):
        return None
    return [fs.getFileStatus(root)], 0


def _check_cells_footer(spark: SparkSession, path: str) -> None:
    """Raise ``ValueError`` naming every column of the parquet table at
    ``path`` that is missing from, extra to, or typed differently than
    ``CELLS_SCHEMA``.

    Reads one data file's footer (``_data_files``) on the driver. The
    schema is the one Spark itself would infer: the writer's row metadata,
    else the parquet schema converted by Spark's converter. Partition
    columns of a ``<dir>/<col>=<value>/`` layout count as present. A path
    with no data file is left to the reader (a missing path raises there;
    an empty directory is an empty table).
    """
    _, Reader, Converter, SQLConf = _jvm_classes(spark._jvm)
    conf = spark._jsc.hadoopConfiguration()
    found_files = _data_files(spark, conf, path, len(CELLS_SCHEMA.fields))
    if found_files is None:
        return
    files, depth = found_files
    status = files[0]
    meta = Reader.readFooter(conf, status).getFileMetaData()
    row_json = meta.getKeyValueMetaData().get(_SPARK_ROW_METADATA)
    if row_json is None:
        row_json = Converter(SQLConf.get()).convert(meta.getSchema()).json()
    found = {f["name"]: f["type"] for f in json.loads(row_json)["fields"]}
    if depth:
        part_dirs = status.getPath().toString().split("/")[-depth - 1 : -1]
        # the reader types a partition column from the pinned schema
        found.update((d.split("=", 1)[0], None) for d in part_dirs)
    problems = cells_schema_problems(found)
    if problems:
        raise ValueError(f"{path} is not a cells table: " + "; ".join(problems))


def rows_exceed(spark: SparkSession, path: str, n: int, levels: int) -> bool:
    """Whether the parquet table at ``path`` holds more than ``n`` rows,
    from its data files' footers (``_data_files``) on the driver: no Spark
    job. The footers are read one file at a time and the reads stop once
    the running row count passes ``n``."""
    Reader = _jvm_classes(spark._jvm)[1]
    conf = spark._jsc.hadoopConfiguration()
    found_files = _data_files(spark, conf, path, levels)
    rows = 0
    for status in found_files[0] if found_files else ():
        blocks = Reader.readFooter(conf, status).getBlocks()
        rows += sum(block.getRowCount() for block in blocks)
        if rows > n:
            return True
    return False


# -- region manifest ----------------------------------------------------------

#: the region manifest a bulk load writes beside its data files (the leading
#: underscore hides it from Spark's file listing)
MANIFEST = "_regions.json"


@dataclass(frozen=True)
class Region:
    """One manifest entry: the region holds rows from ``start`` up to the
    next region's start, all in ``file`` (a name inside the table)."""

    start: bytes
    file: str
    cells: int


#: (table key, regions, scan) of recently read manifest tables, by table
#: path; bounded, the least recently read dropped first
_HELD: OrderedDict[str, tuple] = OrderedDict()
_MAX_HELD = 8


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem of ``path``, Hadoop ``Path`` constructor)."""
    Path = _jvm_classes(spark._jvm)[0]
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema`` order;
    ``schema`` a StructType or a DDL string), handed to Spark as one Arrow
    table. Its plan is a ``LocalTableScan``; ``createDataFrame`` over a
    Python list scans a PythonRDD instead, which starts a Python worker on
    every action."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def write_json(spark: SparkSession, path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` through the Hadoop FS: written
    beside, then renamed in, so a reader sees the old file, no file, or the
    whole new one — never a torn one."""
    fs, Path = _hadoop_fs(spark, path)
    dest, tmp = Path(path), Path(f"{path}.tmp-{os.getpid()}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj).encode()))
    finally:
        out.close()
    fs.delete(dest, False)  # Hadoop's rename does not replace a file
    if not fs.rename(tmp, dest):
        fs.delete(tmp, False)
        raise IOError(f"could not move {path} into place")


def read_json(spark: SparkSession, path: str):
    """The JSON object at ``path``, or ``None`` when there is no file."""
    fs, Path = _hadoop_fs(spark, path)
    if not fs.exists(Path(path)):
        return None
    stream = fs.open(Path(path))
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return json.loads(bytes(data))


def write_manifest(spark: SparkSession, path: str, regions: list[Region]) -> None:
    """Replace the manifest of the table at ``path``."""
    write_json(
        spark,
        f"{path}/{MANIFEST}",
        [{"start": r.start.hex(), "file": r.file, "cells": r.cells} for r in regions],
    )


def data_file_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the parquet data files directly under ``path``."""
    fs, Path = _hadoop_fs(spark, path)
    return [st.getPath().getName() for st in fs.globStatus(Path(f"{path}/*.parquet"))]


def _table_key(spark: SparkSession, path: str) -> tuple | None:
    """(directory mtime, manifest mtime, manifest length): two status
    calls whatever the table size; ``None`` when there is no manifest."""
    fs, Path = _hadoop_fs(spark, path)
    found = fs.globStatus(Path(f"{path}/{MANIFEST}"))
    if not found:
        return None
    dir_mtime = fs.getFileStatus(Path(path)).getModificationTime()
    return dir_mtime, found[0].getModificationTime(), found[0].getLen()


def _manifest(spark: SparkSession, path: str) -> tuple[Region, ...] | None:
    """The table's regions, if its manifest names exactly its data files."""
    entries = read_json(spark, f"{path}/{MANIFEST}")
    if not entries:
        return None
    regions = tuple(
        Region(bytes.fromhex(e["start"]), e["file"], int(e["cells"])) for e in entries
    )
    if sorted(data_file_names(spark, path)) != sorted(r.file for r in regions):
        return None
    return regions


def read_cells(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Open a cells table. Parquet gets the fixed ``CELLS_SCHEMA`` after
    the footer check (module docstring): no Spark job runs. A table whose
    manifest holds is served from the held scan while its key matches.
    ORC keeps Spark's schema inference."""
    if fmt == "parquet":
        key = _table_key(spark, path)
        held_key, regions, scan = _HELD.pop(path, (None, None, None))
        if key is not None and key == held_key and scan.sparkSession is spark:
            _HELD[path] = (key, regions, scan)  # now the most recently read
            return scan
        _check_cells_footer(spark, path)
        scan = spark.read.schema(CELLS_SCHEMA).parquet(path)
        regions = _manifest(spark, path) if key is not None else None
        if regions:
            _HELD[path] = (key, regions, scan)
            while len(_HELD) > _MAX_HELD:
                _HELD.popitem(last=False)
        return scan
    if fmt == "orc":
        return spark.read.orc(path)
    schema = "row string, family string, qualifier string, ts long, type string, value string"
    if fmt == "json":
        return _unescape_binary(spark.read.schema(schema).json(path))
    if fmt == "csv":
        return _unescape_binary(
            spark.read.schema(schema).option("header", True).csv(path)
        )
    raise ValueError(f"unsupported format: {fmt}")


def held_regions(cells: DataFrame) -> tuple[str, tuple[Region, ...]] | None:
    """(table path, regions) when ``cells`` is the scan ``read_cells``
    returned for a table whose manifest holds; else ``None``."""
    for path, (_, regions, scan) in _HELD.items():
        if scan is cells:
            return path, regions
    return None


def covering_cells(
    cells: DataFrame,
    lo: bytes | None = None,
    hi: bytes | None = None,
    hi_inclusive: bool = False,
) -> DataFrame:
    """``cells`` itself, unless it is a held manifest scan: then a scan of
    only the region files that can hold rows in ``[lo, hi)`` (``[lo, hi]``
    with ``hi_inclusive``) — the HBase meta lookup. An empty range opens no
    file. The caller still applies its row filter on top."""
    found = held_regions(cells)
    if found is None:
        return cells
    path, regions = found
    spark = cells.sparkSession
    empty = lo is not None and hi is not None and (lo > hi or (lo == hi and not hi_inclusive))
    files = [] if empty else [
        f"{path}/{r.file}"
        for r, nxt in zip(regions, regions[1:] + (None,))
        if (hi is None or r.start < hi or (hi_inclusive and r.start == hi))
        and (lo is None or nxt is None or nxt.start > lo)
    ]
    if not files:
        return spark.createDataFrame([], CELLS_SCHEMA)
    return spark.read.schema(CELLS_SCHEMA).parquet(*files)


# -- documents-table JSONL interchange ---------------------------------------
#
# JSONL (one JSON object per line) is the de-facto interchange format of LLM
# data pipelines (Common Crawl derivatives, RefinedWeb/Dolma releases, …).
# Reading untrusted JSONL at corpus scale means malformed lines ARE expected;
# Spark's PERMISSIVE mode quarantines them into a corrupt-record column
# instead of failing the job, so one bad shard can't kill a 100 TB ingest.
# JSON text splits by line, so a single huge file still fans out across the
# cluster; there is no pushdown/pruning — convert to parquet after ingest.

DOCUMENTS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def write_documents_jsonl(docs: DataFrame, path: str) -> None:
    """Export a documents table as JSONL (gzip splits poorly; leave plain)."""
    docs.select("doc_id", "text", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).json(path)


def read_documents_jsonl(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) documents from JSONL.

    good: rows matching DOCUMENTS_SCHEMA. quarantined: the raw text of every
    malformed line (broken JSON, or a doc_id that fails to parse), kept for
    forensics — the standard ingest contract for untrusted corpus shards.

    Implementation: text source + ``from_json`` rather than the JSON
    source's _corrupt_record column — Spark disallows plans that reference
    ONLY the corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) unless the
    parse is cached, and caching inside a reader is wrong at corpus scale.
    The text source splits by line exactly like the JSON source, and
    from_json yields NULL for unparseable lines — one narrow pass, both
    outputs prune from the same scan.
    """
    raw = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    parsed = raw.select(
        "value", F.from_json(F.col("value"), DOCUMENTS_SCHEMA).alias("j")
    )
    is_good = F.col("j").isNotNull() & F.col("j.doc_id").isNotNull()
    good = parsed.filter(is_good).select("j.*")
    bad = parsed.filter(~is_good).select(F.col("value").alias("raw_line"))
    return good, bad


def write_documents_orc(docs: DataFrame, path: str) -> None:
    """Export a documents table as ORC (Spark-native columnar interchange —
    zlib by default, splittable, predicate-pushdown capable like parquet)."""
    docs.select("doc_id", "text", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).orc(path)


def read_documents_orc(spark: SparkSession, path: str) -> DataFrame:
    """Documents from ORC with the canonical schema enforced (schema drift in
    interchange files surfaces as an analysis error, not silent nulls)."""
    return spark.read.schema(DOCUMENTS_SCHEMA).orc(path)


def write_documents_csv(docs: DataFrame, path: str) -> None:
    """Export a documents table as headered CSV: fields quoted, embedded
    quotes doubled (RFC 4180), newlines kept verbatim inside quotes."""
    docs.select("doc_id", "text", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).option("header", True).option("escape", '"').csv(path)


def read_documents_csv(spark: SparkSession, path: str) -> DataFrame:
    """Documents from CSV with the canonical schema enforced and RFC 4180
    quote-escape parsing matching the writer.

    ``multiLine`` is required for quoted embedded newlines — and it makes
    each CSV FILE one parse unit (no intra-file splits), which is why CSV
    is interchange-only here (module header): at corpus scale the writer's
    many part-files are the parallelism unit, parquet/ORC the real format.
    """
    return (
        spark.read.schema(DOCUMENTS_SCHEMA)
        .option("header", True)
        .option("escape", '"')
        .option("multiLine", True)
        .csv(path)
    )
