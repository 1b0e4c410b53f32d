"""Compaction / retention / TTL operator tests (HBase storage semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from symat_hbase_tools_spark.operators.compaction import (
    compaction_report,
    expire_ttl,
    major_compact,
    retain_versions,
)
from symat_hbase_tools_spark.sources.cells import (
    CELL_TS,
    customer_cells_versioned,
    customer_cells_versioned_with_deletes,
)


def test_major_compact_drops_shadowed_and_deleted(spark, customer):
    cells = customer_cells_versioned_with_deletes(customer)
    out = major_compact(cells)
    n_cust = customer.count()
    n_del = customer.filter(F.col("c_custkey") % 25 == 3).count()
    assert out.count() == 4 * n_cust - n_del
    # only the latest ts survives, and no marker rows
    assert out.filter(F.col("ts") != CELL_TS + 2000).count() == 0
    assert out.filter(F.col("type") != "Put").count() == 0
    # no value carries an @v suffix (shadowed versions gone)
    assert out.filter(F.decode("value", "UTF-8").contains("@v")).count() == 0


def test_compaction_report_balances(spark, customer):
    cells = customer_cells_versioned_with_deletes(customer)
    r = compaction_report(cells).collect()[0]
    assert r["cells_before"] == cells.count()
    assert r["cells_after"] == major_compact(cells).count()
    assert r["reclaimed"] == r["cells_before"] - r["cells_after"]


def test_retain_versions_keeps_newest_n(spark, customer):
    cells = customer_cells_versioned(customer)  # 3 versions per cell
    out = retain_versions(cells, 2)
    assert out.count() == cells.count() * 2 // 3
    # the oldest version (@v0) is gone, @v1 and plain survive
    kept_ts = {r["ts"] for r in out.select("ts").distinct().collect()}
    assert kept_ts == {CELL_TS + 1000, CELL_TS + 2000}


def test_retain_marker_outranks_put_at_equal_ts(spark):
    rows = [
        (b"k", "cf", b"q", 100, "Put", b"old"),
        (b"k", "cf", b"q", 200, "Put", b"newer"),
        (b"k", "cf", b"q", 200, "Delete", None),
    ]
    cells = spark.createDataFrame(
        rows, "row binary, family string, qualifier binary, ts long, type string, value binary"
    )
    kept = retain_versions(cells, 1).collect()
    assert len(kept) == 1 and kept[0]["type"] == "Delete"


def test_expire_ttl_is_pushed_down(spark, customer, tmp_path):
    path = str(tmp_path / "cells")
    customer_cells_versioned(customer).write.parquet(path)
    out = expire_ttl(spark.read.parquet(path), now_ms=CELL_TS + 3000, ttl_ms=1500)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts" in plan  # filter reached the scan
    assert out.count() == customer.count() * 4


def test_compact_files_coalesces_and_sorts(spark, customer, tmp_path):
    """Many small ingest files -> few row-range-sorted files, same data."""
    from symat_hbase_tools_spark.operators.compaction import compact_files
    from symat_hbase_tools_spark.sources.cells import customer_cells

    src, dst = str(tmp_path / "small"), str(tmp_path / "compacted")
    cells = customer_cells(customer)
    # simulate micro-batch appends: 10 tiny files
    for i in range(10):
        cells.filter(F.col("ts") % 10 == i % 10).write.mode("append").parquet(src)
    cells.repartition(20).write.mode("append").parquet(src)
    report = compact_files(spark, src, dst, target_file_bytes=10**9)
    assert report["files_before"] > report["files_after"] == 1
    before = spark.read.parquet(src)
    after = spark.read.parquet(dst)
    assert after.count() == before.count()
    # within-file row order: sorted by key (file-level range pruning works)
    one_file = after.withColumn("_f", F.input_file_name()).filter(
        F.col("_f") == after.withColumn("_f", F.input_file_name()).select("_f").first()[0]
    )
    collected = [bytes(r["row"]) for r in one_file.select("row").collect()]
    assert collected == sorted(collected)


def test_cli_compact_counters_come_from_the_write(spark, customer, tmp_path, capsys):
    """``cli compact`` prints the counters ``compaction_report`` computes,
    observed by the write job itself, and writes ``major_compact``."""
    import re

    from symat_hbase_tools_spark.cli import main
    from symat_hbase_tools_spark.sources.io import read_cells

    src, out = str(tmp_path / "versioned"), str(tmp_path / "compacted")
    # multi-file: shadowed versions and delete markers spread over 4 files
    customer_cells_versioned_with_deletes(customer).repartition(4).write.parquet(src)
    cells = read_cells(spark, src)
    assert main(["compact", "--table", src, "--output", out]) == 0
    printed = dict(
        re.findall(r"(CELLS_BEFORE|CELLS_AFTER|RECLAIMED)=(\d+)", capsys.readouterr().out)
    )
    r = compaction_report(cells).collect()[0]
    assert printed == {
        "CELLS_BEFORE": str(r["cells_before"]),
        "CELLS_AFTER": str(r["cells_after"]),
        "RECLAIMED": str(r["reclaimed"]),
    }
    assert r["reclaimed"] > 0
    written = read_cells(spark, out)
    assert written.exceptAll(major_compact(cells)).count() == 0
    assert major_compact(cells).exceptAll(written).count() == 0
