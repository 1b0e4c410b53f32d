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


def _check_cells_footer(spark: SparkSession, path: str) -> None:
    """Raise ``ValueError`` naming every column of the parquet table at
    ``path`` that is missing from, extra to, or typed differently than
    ``CELLS_SCHEMA``.

    Reads one data file's footer on the driver through the Hadoop
    FileSystem API (any scheme: local, hdfs://, s3a://). The schema is the
    one Spark itself would infer: the writer's row metadata, else the
    parquet schema converted by Spark's converter. Partition columns of a
    ``<dir>/<col>=<value>/`` layout count as present. A path with no data
    file is left to the reader (a missing path raises there; an empty
    directory is an empty table).
    """
    Path, Reader, Converter, SQLConf = _jvm_classes(spark._jvm)
    conf = spark._jsc.hadoopConfiguration()
    root = Path(path)
    fs = root.getFileSystem(conf)
    pattern = path
    for depth in range(len(CELLS_SCHEMA.fields)):  # one level per partition column
        hits = fs.globStatus(Path(f"{pattern}/*.parquet"))
        if len(hits):
            status = hits[0]
            break
        pattern += "/*=*"
    else:
        if not fs.isFile(root):
            return
        status, depth = fs.getFileStatus(root), 0
    meta = Reader.readFooter(conf, status).getFileMetaData()
    row_json = meta.getKeyValueMetaData().get(_SPARK_ROW_METADATA)
    if row_json is None:
        row_json = Converter(SQLConf.get()).convert(meta.getSchema()).json()
    found = {f["name"]: f["type"] for f in json.loads(row_json)["fields"]}
    if depth:
        part_dirs = status.getPath().toString().split("/")[-depth - 1 : -1]
        # the reader types a partition column from the pinned schema
        found.update((d.split("=", 1)[0], None) for d in part_dirs)
    want = {f.name: f.dataType.jsonValue() for f in CELLS_SCHEMA.fields}
    problems = [f"missing column {c!r}" for c in want if c not in found]
    problems += [f"extra column {c!r}" for c in found if c not in want]
    problems += [
        f"column {c!r} is {t}, expected {want[c]}"
        for c, t in found.items()
        if c in want and t is not None and t != want[c]
    ]
    if problems:
        raise ValueError(f"{path} is not a cells table: " + "; ".join(problems))


def read_cells(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Open a cells table. Parquet gets the fixed ``CELLS_SCHEMA`` after
    the footer check (module docstring): no Spark job runs. ORC keeps
    Spark's schema inference."""
    if fmt == "parquet":
        _check_cells_footer(spark, path)
        return spark.read.schema(CELLS_SCHEMA).parquet(path)
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
