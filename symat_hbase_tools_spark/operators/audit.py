"""Row-integrity audit: the CorruptRowsMR equivalent (SURVEY.md §3.2).

The reference runs a map-only MR job that key-only-scans a table, probes each
key with an independent GET, and reports rows whose read throws
(/root/reference/src/main/java/org/apache/symat/CorruptRowsMR.java):
  * counters TOTAL_ROWS / SUCCESS_ROWS / FAILED_ROWS  (lines 62-66, 132-146)
  * failure record ``key \\t SimpleName, message: <first line>``  (150-163)
  * TSV text output, one part per task                  (255-256)

Two implementations with identical output:

  * ``audit``        — declarative (DataFrame-only). The "probe" is a single
    aggregation over the cells: a row is corrupt iff it carries the corruption
    marker qualifier. This is the 100 TB path: one partial-aggregated
    hash-agg, no Python, no window. ``audit_counted`` fills the counters from
    the same pass as the report's write (the CLI's one scan); ``audit``
    returns them as a lazy frame of their own (the registry's form).
  * ``audit_probe``  — reference-shaped: per-partition "connection" +
    per-row try/except probe inside mapInPandas (the Spark analogue of the
    mapper's lazy reused connection, CorruptRowsMR.java:104-123). Used to
    keep the prod code shape (real HBase GETs) tested; the declarative path
    must hash-match it.

On parquet fixtures there are no real I/O corruptions, so corruption is
*modeled*: a ``corrupt`` marker qualifier (FIXTURES.md §B.3) makes the probe
raise ``CorruptCellError`` — same control flow as a real read failure.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from symat_hbase_tools_spark.functions.bytes_binary import to_string_binary_expr

_LINE_SPLIT = re.compile(r"\r\n|\r|\n")
CORRUPT_QUALIFIER = b"corrupt"


class AuditCounters(NamedTuple):
    total: int
    success: int
    failed: int


class CorruptCellError(Exception):
    """Raised by the probe when a row carries the corruption marker."""


def normalize_error(exc: BaseException) -> str:
    """T4 — `SimpleName, message: <first line>`; null/blank -> 'n/a'.

    Mirrors CorruptRowsMR.java:150-161 (split on CR/LF/CRLF, first line).
    """
    msg = str(exc) if exc.args else None
    if msg is None or msg.strip() == "":
        first = "n/a"
    else:
        first = _LINE_SPLIT.split(msg)[0]
    return f"{type(exc).__name__}, message: {first}"


def _corrupt_message(row_key: str) -> str:
    # Deliberately multi-line so the first-line normalization (T4) is
    # exercised on every failure record.
    return f"corrupt marker present for row {row_key}\nprobe: GET returned marker cell"


def _probed_rows(cells: DataFrame) -> DataFrame:
    """row_key (escaped string) + is_corrupt flag, one row per table row.

    A single partially-aggregated groupBy — the scan reads only (row,
    qualifier) and groups on the RAW binary key (no per-cell decode).
    The key render is the reference's exact ``Bytes.toStringBinary``
    (CorruptRowsMR.java:163), applied AFTER the aggregate so it runs once
    per row, not once per cell, and entirely JVM-side
    (bytes_binary.to_string_binary_expr). For printable-ASCII keys the
    escaped render equals the raw decode, so the DuckDB oracle is the
    plain printf twin.
    """
    return (
        cells.groupBy("row")
        .agg(
            F.max(F.col("qualifier") == F.lit(CORRUPT_QUALIFIER)).alias(
                "is_corrupt"
            )
        )
        .select(
            to_string_binary_expr(F.col("row")).alias("row_key"), "is_corrupt"
        )
    )


def _counters() -> list[Column]:
    """TOTAL / SUCCESS / FAILED over the probed rows; 0, not NULL, on an
    empty table."""
    return [
        F.count(F.lit(1)).alias("total"),
        F.count_if(~F.col("is_corrupt")).alias("success"),
        F.count_if(F.col("is_corrupt")).alias("failed"),
    ]


def _report(probed: DataFrame) -> DataFrame:
    return probed.filter(F.col("is_corrupt")).select(
        "row_key",
        F.concat(
            F.lit("CorruptCellError, message: corrupt marker present for row "),
            F.col("row_key"),
        ).alias("error"),
    )


def audit(cells: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Declarative audit. Returns (report_df, counters_df).

    report_df:   row_key STRING, error STRING   (corrupt rows only)
    counters_df: total, success, failed         (single row, exact)

    The two frames are independent plans: collecting both scans the cells
    twice (``audit_counted`` scans once).
    """
    probed = _probed_rows(cells)
    return _report(probed), probed.agg(*_counters())


def audit_counted(cells: DataFrame) -> tuple[DataFrame, Observation]:
    """``audit``'s report plus an Observation that the action running the
    report fills with ``total``, ``success`` and ``failed`` (read ``.get``
    after the action): one scan for both, as the reference mapper bumps its
    counters while it probes.

    The counters are observed on the per-row aggregate's output, in the
    result stage (see ``compaction.major_compact_counted``), and only the
    first action fills them: run the report's write first.
    """
    counters = Observation()
    probed = _probed_rows(cells).observe(counters, *_counters())
    return _report(probed), counters


def _default_prober(row_key: str, is_corrupt: bool) -> None:
    """The parquet-fixture probe: raise iff the marker qualifier is present.

    The real-HBase prober issues a GET and lets the client's own exceptions
    (CorruptHFileException / DoNotRetryIOException / ...) propagate — the
    injectable ``prober`` parameter of ``audit_probe`` is exactly that seam.
    """
    if is_corrupt:
        raise CorruptCellError(_corrupt_message(row_key))


def audit_probe(cells: DataFrame, prober=None) -> DataFrame:
    """Reference-shaped audit: per-row probe with try/except in mapInPandas.

    Control flow mirrors the MR mapper (CorruptRowsMR.java:127-166): a
    per-partition lazily-initialized connection (here: the batch iterator
    entry), one probe per key, exceptions normalized via ``normalize_error``.
    Output is identical to ``audit()[0]`` under the default prober.

    ``prober(row_key, is_corrupt)`` raises to signal a corrupt row — the
    exception's type name and first message line become the failure record,
    byte-for-byte the reference's format (CorruptRowsMR.java:150-163). The
    HBase connector path supplies a GET-issuing prober; tests supply fault
    injectors (test_reference_golden.py reproduces the README's example
    output verbatim through this seam).
    """
    probed = _probed_rows(cells)
    probe = prober if prober is not None else _default_prober

    def probe_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # "connection" init per partition happens here (P4 — lazy, reused,
        # closed when the iterator is exhausted). For parquet fixtures the
        # connection is a no-op; the HBase path opens a real Connection.
        for pdf in batches:
            out_keys, out_errors = [], []
            for row_key, is_corrupt in zip(pdf["row_key"], pdf["is_corrupt"]):
                try:
                    probe(row_key, is_corrupt)
                except Exception as exc:  # noqa: BLE001 — mirror mapper catch-all
                    out_keys.append(row_key)
                    out_errors.append(normalize_error(exc))
            yield pd.DataFrame({"row_key": out_keys, "error": out_errors})

    return probed.mapInPandas(probe_partition, schema="row_key string, error string")


def counters_of(counters_df: DataFrame) -> AuditCounters:
    row = counters_df.collect()[0]
    return AuditCounters(row["total"], row["success"], row["failed"])


def write_report_tsv(report: DataFrame, path: str) -> None:
    """K2 — `key \\t error` text lines, one part file per task + _SUCCESS."""
    report.select(F.concat_ws("\t", "row_key", "error")).write.mode("overwrite").text(path)
