"""Audit tests — golden semantics modeled on the reference's worked example
(/root/reference/README.md:62-81: 5-row table, 2 corrupted, exact TSV) plus
the counters triple (CorruptRowsMR.java:62-66)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from symat_hbase_tools_spark.operators.audit import (
    CorruptCellError,
    audit,
    audit_probe,
    counters_of,
    normalize_error,
    write_report_tsv,
)
from symat_hbase_tools_spark.sources.cells import (
    CORRUPT_MOD,
    CORRUPT_REMAINDER,
    customer_cells,
)


def expected_corrupt_keys(customer):
    rows = customer.filter(
        F.col("c_custkey") % CORRUPT_MOD == CORRUPT_REMAINDER
    ).select("c_custkey").collect()
    return {"cust#%08d" % r["c_custkey"] for r in rows}


def test_audit_counters_and_report(spark, customer):
    cells = customer_cells(customer, with_corrupt_marker=True)
    report, counters = audit(cells)
    want = expected_corrupt_keys(customer)
    got = {r["row_key"] for r in report.collect()}
    assert got == want
    c = counters_of(counters)
    assert c.total == customer.count()
    assert c.failed == len(want)
    assert c.success == c.total - c.failed


def test_audit_error_format(spark, customer):
    cells = customer_cells(customer, with_corrupt_marker=True)
    report, _ = audit(cells)
    r = report.orderBy("row_key").limit(1).collect()[0]
    # `SimpleName, message: <first line>` — multi-line detail dropped (T4)
    assert r["error"] == f"CorruptCellError, message: corrupt marker present for row {r['row_key']}"


def test_probe_path_matches_declarative(spark, customer):
    """The reference-shaped mapInPandas probe must produce identical rows."""
    cells = customer_cells(customer, with_corrupt_marker=True)
    declarative = {(r["row_key"], r["error"]) for r in audit(cells)[0].collect()}
    probed = {(r["row_key"], r["error"]) for r in audit_probe(cells).collect()}
    assert probed == declarative


def test_clean_table_audit(spark, customer):
    cells = customer_cells(customer, with_corrupt_marker=False)
    report, counters = audit(cells)
    assert report.count() == 0
    c = counters_of(counters)
    assert c == (customer.count(), customer.count(), 0)


def test_normalize_error():
    assert (
        normalize_error(CorruptCellError("boom\nsecond line"))
        == "CorruptCellError, message: boom"
    )
    assert normalize_error(ValueError("a\r\nb")) == "ValueError, message: a"
    assert normalize_error(ValueError("a\rb")) == "ValueError, message: a"
    assert normalize_error(ValueError("")) == "ValueError, message: n/a"
    assert normalize_error(ValueError()) == "ValueError, message: n/a"
    assert normalize_error(ValueError("   ")) == "ValueError, message: n/a"


def test_tsv_sink(spark, customer, tmp_path):
    cells = customer_cells(customer, with_corrupt_marker=True)
    report, _ = audit(cells)
    out = str(tmp_path / "report")
    write_report_tsv(report, out)
    assert glob.glob(out + "/_SUCCESS")
    lines = []
    for f in glob.glob(out + "/part-*"):
        with open(f) as fh:
            lines += [ln.rstrip("\n") for ln in fh if ln.strip()]
    want = expected_corrupt_keys(customer)
    assert len(lines) == len(want)
    for ln in lines:
        key, error = ln.split("\t")
        assert key in want
        assert error.startswith("CorruptCellError, message: ")


def _tsv_lines(out):
    lines = []
    for f in glob.glob(out + "/part-*"):
        with open(f) as fh:
            lines += [ln.rstrip("\n") for ln in fh if ln.strip()]
    return sorted(lines)


@pytest.fixture()
def corrupt_table(spark, customer, tmp_path):
    from symat_hbase_tools_spark.operators.bulkload import bulk_load_cells

    path = str(tmp_path / "cells")
    bulk_load_cells(customer_cells(customer, with_corrupt_marker=True), path, 8)
    return path


def test_cli_corrupt_rows_reads_the_table_once(spark, corrupt_table, tmp_path, capsys):
    """cli corrupt-rows on a bulk-loaded table runs at most 2 Spark jobs
    (the aggregate's map stage and the report's write, which fills the
    counters; writing the report and then counting took 5), and prints the
    counters and writes the TSV lines of the lazy two-scan audit."""
    from symat_hbase_tools_spark import cli
    from symat_hbase_tools_spark.sources.io import read_cells
    from tests.conftest import jobs_run

    out = str(tmp_path / "report")
    capsys.readouterr()
    rc, jobs = jobs_run(
        spark, lambda: cli.main(["corrupt-rows", "--table", corrupt_table, "--output", out])
    )
    printed = capsys.readouterr().out
    assert (rc, jobs <= 2) == (2, True), (rc, jobs)
    report, counters = audit(read_cells(spark, corrupt_table))
    c = counters_of(counters)
    assert c.failed > 0 and c.total == c.success + c.failed
    assert f"TOTAL_ROWS={c.total} SUCCESS_ROWS={c.success} FAILED_ROWS={c.failed}" in printed
    assert _tsv_lines(out) == sorted(f"{r['row_key']}\t{r['error']}" for r in report.collect())


def test_cli_corrupt_rows_trace_prints_failing_rows_after_the_write(
    spark, corrupt_table, tmp_path, capsys, monkeypatch
):
    """``--traceCells true`` prints the failing rows once the report is
    written, so the counters are the write's observation, and the counters
    line is unchanged by the trace."""
    import os

    from symat_hbase_tools_spark import cli

    out = str(tmp_path / "report")
    written_before_show = []
    DataFrame = type(spark.range(1))  # the session's DataFrame class
    show = DataFrame.show

    def traced_show(self, *args, **kwargs):
        written_before_show.append(os.path.exists(out + "/_SUCCESS"))
        return show(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "show", traced_show)
    capsys.readouterr()
    rc = cli.main(
        ["corrupt-rows", "--table", corrupt_table, "--output", out, "--traceCells", "true"]
    )
    printed = capsys.readouterr().out
    assert rc == 2 and written_before_show == [True]
    keys = [line.split("\t")[0] for line in _tsv_lines(out)]
    trace, counters_line = printed.split("TOTAL_ROWS=")
    assert keys and all(k in trace for k in keys)
    n = len(keys)
    assert counters_line.split()[-1] == f"FAILED_ROWS={n}"


def test_cli_corrupt_rows_on_an_empty_table(spark, customer, tmp_path, capsys):
    """An empty cells table has no failed rows: the counters read 0, not
    None, and the exit code is 0."""
    from symat_hbase_tools_spark import cli

    table = str(tmp_path / "empty")
    customer_cells(customer).limit(0).write.parquet(table)
    capsys.readouterr()
    rc = cli.main(["corrupt-rows", "--table", table, "--output", str(tmp_path / "r")])
    assert "TOTAL_ROWS=0 SUCCESS_ROWS=0 FAILED_ROWS=0" in capsys.readouterr().out
    assert rc == 0
