"""Cells import/export round-trips across formats, incl. binary-safe text
encodings with non-printable key bytes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from symat_hbase_tools_spark.sources import io as cio
from symat_hbase_tools_spark.sources.cells import CELL_TS, customer_cells
from tests.conftest import jobs_run


def cells_set(df):
    return {
        (
            bytes(r["row"]),
            r["family"],
            bytes(r["qualifier"]),
            r["ts"],
            r["type"],
            bytes(r["value"]) if r["value"] is not None else None,
        )
        for r in df.collect()
    }


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_roundtrip(spark, customer, tmp_path, fmt):
    cells = customer_cells(customer.limit(30))
    path = str(tmp_path / fmt)
    cio.write_cells(cells, path, fmt=fmt)
    back = cio.read_cells(spark, path, fmt=fmt)
    assert cells_set(back) == cells_set(cells)


def test_roundtrip_binary_keys(spark, tmp_path):
    """Non-printable bytes survive the escaped text formats."""
    rows = [
        (b"\x00key", "cf", b"q\n1", CELL_TS, "Put", b"\xff\xfe"),
        (b"tab\tkey", "cf", b"q2", CELL_TS, "Put", b"plain"),
        (b"back\\slash", "cf", b"q3", CELL_TS, "Put", b"\x00"),
    ]
    cells = spark.createDataFrame(
        rows, "row binary, family string, qualifier binary, ts long, type string, value binary"
    )
    for fmt in ("json", "csv"):
        path = str(tmp_path / ("bin_" + fmt))
        cio.write_cells(cells, path, fmt=fmt)
        back = cio.read_cells(spark, path, fmt=fmt)
        assert cells_set(back) == cells_set(cells), fmt


def test_partitioned_export_prunes(spark, customer, tmp_path):
    cells = customer_cells(customer)
    path = str(tmp_path / "by_family")
    cio.write_cells(cells, path, fmt="parquet", partition_by=["family"])
    back = cio.read_cells(spark, path).filter(F.col("family") == "cf")
    from symat_hbase_tools_spark.plans.explain import plan_string

    assert "PartitionFilters: [isnotnull(family" in plan_string(back)
    assert back.count() == cells.count()


def test_unsupported_format(spark, customer):
    with pytest.raises(ValueError):
        cio.write_cells(customer_cells(customer), "/tmp/x", fmt="avro_nope")


def test_jsonl_corrupt_record_quarantine(spark, tmp_path):
    """Malformed JSONL lines land in quarantine, good lines parse — one bad
    shard must never fail a corpus ingest."""
    from symat_hbase_tools_spark.sources.io import read_documents_jsonl

    p = tmp_path / "shard"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s", "n_chars": 11}\n'
        "this is not json at all\n"
        '{"doc_id": "NOT_A_NUMBER", "text": "x", "lang": "en", "source": "s", "n_chars": 1}\n'
        '{"doc_id": 2, "text": "ok", "lang": "zh", "source": "s", "n_chars": 2}\n'
    )
    good, bad = read_documents_jsonl(spark, str(p))
    good_rows = {r["doc_id"] for r in good.collect()}
    bad_rows = [r["raw_line"] for r in bad.collect()]
    assert good_rows == {1, 2}
    assert len(bad_rows) == 2
    assert any("not json" in b for b in bad_rows)


def test_jsonl_roundtrip_query_matches_parquet(spark):
    from symat_hbase_tools_spark.entry import QUERIES
    from symat_hbase_tools_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    out = {
        r["lang"]: (r["n_docs"], r["sum_chars"])
        for r in QUERIES["docs_jsonl_roundtrip"](spark, SF_DIR).collect()
    }
    import pyspark.sql.functions as F

    want = {
        r["lang"]: (r["n"], r["s"])
        for r in load_table(spark, SF_DIR, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("s"))
        .collect()
    }
    assert out == want


def test_orc_roundtrip_lossless(spark, documents, tmp_path):
    from symat_hbase_tools_spark.sources.io import (
        read_documents_orc,
        write_documents_orc,
    )

    path = str(tmp_path / "orc")
    write_documents_orc(documents, path)
    back = read_documents_orc(spark, path)
    orig = {r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"])
            for r in documents.collect()}
    got = {r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"])
           for r in back.collect()}
    assert got == orig

def test_scratch_paths_are_process_scoped(spark):
    """No derived store/export may land at a fixed shared /tmp path: two
    concurrent runs against the same sf_dir must not race on files
    (round-4 verdict #1 — the regionstore had the last fixed path)."""
    import tempfile

    from symat_hbase_tools_spark import entry
    from tests.conftest import SF_DIR

    tmproot = tempfile.gettempdir()
    for q in ("kv_region_scan", "docs_jsonl_roundtrip"):
        entry.QUERIES[q](spark, SF_DIR).collect()
    assert entry._FIXTURE_ROOT, "scratch root should exist after fixture use"
    root = entry._FIXTURE_ROOT[0]
    # mkdtemp => random suffix, mode 0700, owned by this process
    assert root.startswith(tmproot) and root != tmproot
    import os

    assert os.path.basename(root).startswith("symat_fixtures_")
    assert len(os.path.basename(root)) > len("symat_fixtures_")
    # the regionstore landed INSIDE the scratch, not at a fixed path
    stores = [p for p in os.listdir(root) if p.startswith("regionstore_")]
    assert stores, os.listdir(root)


def test_read_cells_runs_no_job(spark, customer, tmp_path):
    """Opening a cells table runs no Spark job (the schema is fixed and
    checked against one footer on the driver); a point Get is one job."""
    from symat_hbase_tools_spark.operators import kv
    from symat_hbase_tools_spark.operators.bulkload import bulk_load_cells

    path = str(tmp_path / "bulk")
    bulk_load_cells(customer_cells(customer), path, 4)
    cells, jobs = jobs_run(spark, lambda: cio.read_cells(spark, path))
    assert jobs == 0
    get = kv.point_get(cells, b"cust#00000007")
    table, jobs = jobs_run(spark, get.toArrow)
    assert jobs == 1
    assert table.num_rows == 4


def test_read_cells_checks_tables_of_other_writers(spark, tmp_path):
    """A footer without Spark's row metadata (here written by pyarrow) is
    checked through the parquet schema: cells pass, a mistyped ts fails."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(name, ts_type):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table({
                "row": pa.array([b"k"], pa.binary()),
                "family": ["cf"],
                "qualifier": pa.array([b"q"], pa.binary()),
                "ts": pa.array([1], ts_type),
                "type": ["Put"],
                "value": pa.array([b"v"], pa.binary()),
            }),
            str(d / "part-0.parquet"),
        )
        return str(d)

    back = cio.read_cells(spark, write("cells", pa.int64()))
    assert cells_set(back) == {(b"k", "cf", b"q", 1, "Put", b"v")}
    with pytest.raises(ValueError, match="'ts'"):
        cio.read_cells(spark, write("ts_int", pa.int32()))


@pytest.fixture(scope="module")
def wrong_tables(spark, customer, tmp_path_factory):
    """{offending column: table dir}: a ``spark.range`` table and a cells
    table whose ``ts`` is int."""
    root = tmp_path_factory.mktemp("wrong_tables")
    spark.range(10).write.parquet(str(root / "range"))
    customer_cells(customer).withColumn(
        "ts", (F.col("ts") - CELL_TS).cast("int")
    ).write.parquet(str(root / "ts_int"))
    return {"id": str(root / "range"), "ts": str(root / "ts_int")}


@pytest.mark.parametrize("column", ["id", "ts"])
def test_read_cells_rejects_non_cells_table(spark, wrong_tables, column):
    """A pinned schema would read these as all-NULL columns; the footer
    check raises and names the column instead."""
    with pytest.raises(ValueError, match=f"'{column}'"):
        cio.read_cells(spark, wrong_tables[column])


@pytest.mark.parametrize("column", ["id", "ts"])
def test_cli_rejects_non_cells_table(spark, wrong_tables, tmp_path, capsys, column):
    import os

    from symat_hbase_tools_spark.cli import main

    table = wrong_tables[column]
    out = str(tmp_path / "out")

    def files():
        return {
            f: os.stat(os.path.join(table, f)).st_mtime_ns for f in os.listdir(table)
        }

    before = files()
    argvs = [
        ["copy-row", "--sourceTable", table, "--destTable", table,
         "--rowKeyByteString", "cust#00000007", "--override", "true",
         "--timestampToUse", "1786000000000"],
        ["corrupt-rows", "--table", table, "--output", out],
        ["compact", "--table", table, "--output", out],
        ["repair", "--authoritativeTable", table, "--replicaTable", table,
         "--output", out],
        ["split-points", "--table", table, "--targetBytes", "1000"],
    ]
    for argv in argvs:
        assert main(argv) != 0, argv[0]
        err = capsys.readouterr().err
        assert "is not a cells table" in err and f"'{column}'" in err, argv[0]
    # the failed in-place copy-row left the table as it was
    assert files() == before
    parent = os.path.dirname(table)
    name = os.path.basename(table)
    assert [
        s for s in os.listdir(parent)
        if s.startswith((f"{name}.inflight-", f"{name}.replaced-"))
    ] == []


def test_cli_split_points_collects_once_and_caches_nothing(spark, customer, tmp_path, capsys):
    """split-points collects its report once and leaves no persisted RDD
    behind (it cached the report and never unpersisted it); its stdout
    lines are the ones it printed before, and --output holds the report."""
    from symat_hbase_tools_spark.cli import main
    from symat_hbase_tools_spark.operators import kv
    from symat_hbase_tools_spark.operators.bulkload import bulk_load_cells
    from symat_hbase_tools_spark.plans.serve_cache import released_after

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    table, out = str(tmp_path / "cells"), str(tmp_path / "splits")
    bulk_load_cells(customer_cells(customer), table, 4)
    before = persisted()
    capsys.readouterr()
    rc = main(["split-points", "--table", table, "--targetBytes", "5000", "--output", out])
    assert rc == 0
    assert persisted() <= before
    assert capsys.readouterr().out.splitlines() == [
        "REGIONS=5 SPLITS=4 TARGET_BYTES=5000",
        "SPLIT\tcust#00000031",
        "SPLIT\tcust#00000061",
        "SPLIT\tcust#00000091",
        "SPLIT\tcust#00000121",
        f"wrote {out}",
    ]
    with released_after():
        report = kv.split_points(cio.read_cells(spark, table), target_bytes=5000)
        want = sorted(map(tuple, report.collect()))
    written = spark.read.parquet(out)
    assert [(f.name, f.dataType) for f in written.schema] == [
        (f.name, f.dataType) for f in report.schema
    ]
    assert sorted(map(tuple, written.collect())) == want
