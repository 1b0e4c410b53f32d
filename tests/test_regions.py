"""Region-addressed Get and Put on bulk-loaded cells tables.

A bulk load writes a region manifest (``_regions.json``: start row, file,
cell count per region — the HBase meta table). ``read_cells`` holds it
while the table is unchanged, ``kv.point_get`` / ``kv.range_scan`` read
only the covering region files, and an in-place ``cli copy-row`` rewrites
only the key's home region. Any change the manifest does not describe
falls back to the whole-table scan with the same results.

A Get has two routes (``_on_route``): the driver reads the home region's
row groups with pyarrow, or, above Spark's local-relation bound, a file
scan of the home region runs. The Get tests run on both.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from symat_hbase_tools_spark import cli
from symat_hbase_tools_spark.operators import bulkload, kv
from symat_hbase_tools_spark.operators.bulkload import bulk_load_cells
from symat_hbase_tools_spark.sources import io as cio
from symat_hbase_tools_spark.sources.cells import CELLS_SCHEMA, customer_cells
from tests.conftest import jobs_run

N_REGIONS = 8


def _rows(df):
    return sorted(
        (bytes(r["row"]), r["family"], bytes(r["qualifier"]), r["ts"], r["type"],
         None if r["value"] is None else bytes(r["value"]))
        for r in df.collect()
    )


def _scan(df) -> dict:
    """Rows of ``df`` plus its file-scan metrics (numFiles, numOutputRows)
    after the action."""
    rows = _rows(df)
    out = {"numFiles": 0, "numOutputRows": 0, "rows": rows}

    def walk(node):
        name = node.getClass().getName()
        if name.endswith("AdaptiveSparkPlanExec"):
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        if "FileSourceScan" in name:
            it = node.metrics().iterator()
            while it.hasNext():
                m = it.next()
                if m._1() in ("numFiles", "numOutputRows"):
                    out[m._1()] += m._2().value()
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


#: "driver": the default; "spark": the file-scan route, forced by a zero
#: local-relation bound
ROUTES = ("driver", "spark")


@contextlib.contextmanager
def _on_route(spark, route):
    """Run the block's Gets on ``route`` and yield the driver's region
    reads: (file name, rows read, ``None`` when over the bound) per
    ``read_row_groups`` call."""
    reads = []
    real = cio.read_row_groups

    def spy(file, row_key, max_bytes):
        table = real(file, row_key, max_bytes)
        reads.append((os.path.basename(file), None if table is None else table.num_rows))
        return table

    bound = "spark.sql.execution.arrow.localRelationThreshold"
    cio.read_row_groups = spy
    if route == "spark":
        spark.conf.set(bound, "0")
    try:
        yield reads
    finally:
        cio.read_row_groups = real
        spark.conf.unset(bound)


def _home(regions, key):
    """The manifest entry of the region that holds ``key``."""
    return [r for r in regions if bytes.fromhex(r["start"]) <= key][-1]


def _assert_read_home(got, reads, route, home):
    """The Get read one file, ``home``'s, and all of its cells: as the file
    scan's metrics (Spark route), or as the rows the driver read from it."""
    if route == "spark":
        assert reads == [(home["file"], None)], reads
        assert got["numFiles"] == 1
        assert got["numOutputRows"] == home["cells"]
    else:
        assert reads == [(home["file"], home["cells"])], reads
        assert got["numFiles"] == 0


def _manifest(path):
    with open(os.path.join(path, cio.MANIFEST)) as f:
        return json.load(f)


def _file_ranges(path):
    """{file name: (min row, max row, cells)} read with DuckDB."""
    con = duckdb.connect()
    out = {}
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        lo, hi, n = con.execute(
            f"SELECT min(row), max(row), count(*) FROM read_parquet('{f}')"
        ).fetchone()
        out[os.path.basename(f)] = (bytes(lo), bytes(hi), n)
    return out


@pytest.fixture()
def table(spark, customer, tmp_path):
    path = str(tmp_path / "cells")
    bulk_load_cells(customer_cells(customer), path, N_REGIONS)
    return path


# -- the manifest --------------------------------------------------------------


def test_manifest_start_keys_are_file_minimums_for_binary_keys(spark, tmp_path):
    """Start keys equal each file's minimum row (checked with DuckDB) and the
    cell counts each file's rows, on keys with 0x00 and 0xFF bytes — the
    range layout is unsigned-lexicographic, like HBase."""
    keys = sorted(
        {bytes([a, b]) for a in (0x00, 0x01, 0x7F, 0x80, 0xFE, 0xFF) for b in (0x00, 0x80, 0xFF)}
        | {b"\x00", b"\xff", b"\xff\xff\xff", b"\x00\x00\x00"}
    )
    cells = spark.createDataFrame(
        [(k, "cf", q, 1, "Put", k + q) for k in keys for q in (b"a", b"b")],
        CELLS_SCHEMA,
    )
    path = str(tmp_path / "binary")
    bulk_load_cells(cells, path, 4)
    regions = _manifest(path)
    ranges = _file_ranges(path)
    assert len(regions) == len(ranges) > 1
    assert {r["file"] for r in regions} == set(ranges)
    starts = [bytes.fromhex(r["start"]) for r in regions]
    assert starts == sorted(starts)
    for r in regions:
        lo, _, n = ranges[r["file"]]
        assert bytes.fromhex(r["start"]) == lo and r["cells"] == n
    table = cio.read_cells(spark, path)
    assert cio.held_regions(table) is not None
    for route in ROUTES:
        for k in (b"\x00", b"\xff", b"\x7f\xff", b"\x80\x00", b"\xff\xff\xff"):
            with _on_route(spark, route) as reads:
                got = _scan(kv.point_get(table, k))
            assert got["rows"] == _rows(cells.filter(F.col("row") == k)), (route, k)
            _assert_read_home(got, reads, route, _home(regions, k))


def test_bulk_load_checks_the_cells_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="missing column 'row'"):
        bulk_load_cells(spark.range(3), str(tmp_path / "bad"), 2)
    assert not os.path.exists(tmp_path / "bad")


# -- reads ---------------------------------------------------------------------


def test_get_cost_does_not_grow_with_regions(spark, customer, tmp_path):
    """A Get reads 1 file at 16 and at 64 regions, and scans only its
    region's cells (the manifest's count for the home region), on both
    routes."""
    cells = customer_cells(customer)
    key = b"cust#00000077"
    for n in (16, 64):
        path = str(tmp_path / f"r{n}")
        bulk_load_cells(cells, path, n)
        home = _home(_manifest(path), key)
        for route in ROUTES:
            with _on_route(spark, route) as reads:
                got = _scan(kv.point_get(cio.read_cells(spark, path), key))
            assert got["rows"] == _rows(cells.filter(F.col("row") == key)), (route, n)
            _assert_read_home(got, reads, route, home)


def test_held_table_opens_without_jobs(spark, table):
    """read_cells on a manifest table runs 0 Spark jobs, first and again
    (the held scan is reused), and the Get runs 1 over 1 file on both
    routes."""
    first, jobs = jobs_run(spark, lambda: cio.read_cells(spark, table))
    assert jobs == 0
    again, jobs = jobs_run(spark, lambda: cio.read_cells(spark, table))
    assert jobs == 0 and again is first
    key = b"cust#00000007"
    home = _home(_manifest(table), key)
    for route in ROUTES:
        with _on_route(spark, route) as reads:
            arrow, jobs = jobs_run(spark, lambda: kv.point_get(again, key).toArrow())
        assert jobs == 1 and arrow.num_rows == 4, route
        with _on_route(spark, route) as reads:
            got = _scan(kv.point_get(again, key))
        _assert_read_home(got, reads, route, home)


def test_get_routes_return_equal_cells(spark, tmp_path):
    """The driver route returns what the file scan returns: every stored
    version, Delete markers and null values of a present key, nothing for
    an absent key inside a region's range, and nothing, with no file
    opened, for a key before the first region."""
    keys = [b"k%02d" % i for i in range(0, 40, 2)]
    cells = spark.createDataFrame(
        [(k, "cf", b"a", 1, "Put", k) for k in keys]
        + [
            (b"k10", "cf", b"a", 2, "Put", b"v2"),
            (b"k10", "cf", b"a", 3, "Delete", None),
            (b"k10", "cf", b"b", 1, "Put", None),
        ],
        CELLS_SCHEMA,
    )
    path = str(tmp_path / "versions")
    bulk_load_cells(cells, path, 4)
    regions = _manifest(path)
    assert len(regions) == 4
    table = cio.read_cells(spark, path)
    cases = {b"k10": 4, b"k11": 0, b"a": 0}
    assert bytes.fromhex(regions[0]["start"]) <= b"k11" < bytes.fromhex(regions[-1]["start"])
    for key, n in cases.items():
        got = {}
        for route in ROUTES:
            with _on_route(spark, route) as reads:
                df = kv.point_get(table, key)
                got[route] = (df.schema, _rows(df))
            if key == b"a":
                assert reads == [], (route, reads)
        assert got["driver"] == got["spark"], key
        assert got["driver"][1] == _rows(cells.filter(F.col("row") == key)), key
        assert len(got["driver"][1]) == n, key
    plan = kv.point_get(table, b"a")._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan


def test_held_tables_stay_bounded(spark, table, tmp_path):
    """Reading many manifest tables keeps at most _MAX_HELD of them."""
    paths = []
    for i in range(cio._MAX_HELD + 4):
        p = str(tmp_path / f"copy{i}")
        shutil.copytree(table, p)
        paths.append(p)
        assert cio.held_regions(cio.read_cells(spark, p)) is not None
    assert len(cio._HELD) <= cio._MAX_HELD
    assert set(paths[-cio._MAX_HELD :]) <= set(cio._HELD)


# -- in-place copy-row: one region rewritten -----------------------------------


def test_copy_row_in_place_rewrites_one_region(spark, table, tmp_path):
    """On each route, in place on its own copy of the table."""
    copies = [table]
    for route in ROUTES[1:]:
        copies.append(str(tmp_path / f"cells-{route}"))
        shutil.copytree(table, copies[-1])
    for route, path in zip(ROUTES, copies):
        _copy_row_in_place_rewrites_one_region(spark, path, route)


def _copy_row_in_place_rewrites_one_region(spark, table, route):
    before = _manifest(table)
    key, bumped = b"cust#00000042", 1786000000000
    home = max(i for i, r in enumerate(before) if bytes.fromhex(r["start"]) <= key)
    with _on_route(spark, route) as reads:
        rc = cli.main([
            "copy-row", "--sourceTable", table, "--destTable", table,
            "--rowKeyByteString", key.decode(), "--override", "true",
            "--timestampToUse", str(bumped),
        ])
    assert rc == 0
    # the copy-row's Get read the home region's file only
    read = before[home]["cells"] if route == "driver" else None
    assert reads == [(before[home]["file"], read)], reads
    after = _manifest(table)
    ranges = _file_ranges(table)
    # N range-disjoint files, exactly the ones the manifest names
    assert len(ranges) == len(before) == len(after)
    assert {r["file"] for r in after} == set(ranges)
    for r in after:
        lo, _, n = ranges[r["file"]]
        assert bytes.fromhex(r["start"]) == lo and r["cells"] == n
    spans = sorted(ranges.values())
    assert all(hi < lo2 for (_, hi, _), (lo2, _, _) in zip(spans, spans[1:]))
    # only the home region's file changed, and it gained the 4 copied cells
    changed = [i for i, (a, b) in enumerate(zip(before, after)) if a != b]
    assert changed == [home]
    assert after[home]["cells"] == before[home]["cells"] + 4
    # a Get of the copied row reads 1 file and sees both versions
    table_df = cio.read_cells(spark, table)
    assert cio.held_regions(table_df) is not None
    with _on_route(spark, route) as reads:
        got = _scan(kv.point_get(table_df, key))
    _assert_read_home(got, reads, route, after[home])
    assert sorted(r[3] for r in got["rows"]) == [1704067200000] * 4 + [bumped] * 4
    siblings = [
        p for p in os.listdir(os.path.dirname(table))
        if ".inflight-" in p or ".replaced-" in p
    ]
    assert siblings == []


def test_copy_row_in_place_collects_the_puts_once(spark, table):
    """An in-place copy-row collects the row's cells once and upserts them
    as a local table: at most 4 Spark jobs (a lazy upsert re-reads the
    puts for the count, the broadcast and the union: 7 jobs), and the
    copied cells are the source row's cells with only the timestamp
    bumped."""
    key, bumped = b"cust#00000042", 1786000000000
    before = _rows(kv.point_get(cio.read_cells(spark, table), key))
    rc, jobs = jobs_run(spark, lambda: cli.main([
        "copy-row", "--sourceTable", table, "--destTable", table,
        "--rowKeyByteString", key.decode(), "--override", "true",
        "--timestampToUse", str(bumped),
    ]))
    assert rc == 0
    assert jobs <= 4, jobs
    after = _rows(kv.point_get(cio.read_cells(spark, table), key))
    copied = [r for r in after if r[3] == bumped]
    assert len(before) == 4
    assert copied == sorted(r[:3] + (bumped,) + r[4:] for r in before)
    assert sorted(set(after) - set(copied)) == before


# -- staleness: every change the manifest does not describe falls back --------


def _assert_full_scan_results(spark, path, keys):
    table = cio.read_cells(spark, path)
    assert cio.held_regions(table) is None
    full = spark.read.schema(CELLS_SCHEMA).parquet(path)
    for key in keys:
        assert _rows(kv.point_get(table, key)) == _rows(
            full.filter(F.col("row") == key)
        )
    assert _rows(kv.range_scan(table, b"cust#00000040", b"cust#00000050")) == _rows(
        full.filter((F.col("row") >= b"cust#00000040") & (F.col("row") < b"cust#00000050"))
    )


def test_file_added_by_another_writer_falls_back(spark, table):
    assert cio.held_regions(cio.read_cells(spark, table)) is not None
    key = b"cust#00000042"
    pq.write_table(
        pa.table({
            "row": pa.array([key], pa.binary()),
            "family": ["cf"],
            "qualifier": pa.array([b"extra"], pa.binary()),
            "ts": pa.array([5], pa.int64()),
            "type": ["Put"],
            "value": pa.array([b"v"], pa.binary()),
        }),
        os.path.join(table, "zz-other-writer.parquet"),
    )
    _assert_full_scan_results(spark, table, [key, b"cust#00000007"])
    assert len(_rows(kv.point_get(cio.read_cells(spark, table), key))) == 5


def test_deleted_manifest_falls_back(spark, table):
    assert cio.held_regions(cio.read_cells(spark, table)) is not None
    os.remove(os.path.join(table, cio.MANIFEST))
    _assert_full_scan_results(spark, table, [b"cust#00000042"])


def test_table_overwritten_by_write_cells_falls_back(spark, customer, table):
    assert cio.held_regions(cio.read_cells(spark, table)) is not None
    cells = customer_cells(customer).filter(F.col("row") < b"cust#00000060")
    cio.write_cells(cells, table)
    _assert_full_scan_results(spark, table, [b"cust#00000042", b"cust#00000099"])
    assert _rows(kv.point_get(cio.read_cells(spark, table), b"cust#00000099")) == []


def test_crash_between_swap_and_manifest_write_falls_back(spark, table, monkeypatch):
    assert cio.held_regions(cio.read_cells(spark, table)) is not None

    def crash(*a, **k):
        raise RuntimeError("killed before the manifest write")

    monkeypatch.setattr(bulkload, "write_manifest", crash)
    key = b"cust#00000042"
    rc = cli.main([
        "copy-row", "--sourceTable", table, "--destTable", table,
        "--rowKeyByteString", key.decode(), "--override", "true",
        "--timestampToUse", "1786000000000",
    ])
    assert rc != 0
    monkeypatch.undo()
    _assert_full_scan_results(spark, table, [key, b"cust#00000007"])
    # the swap itself landed: the copied cells are there
    assert len(_rows(kv.point_get(cio.read_cells(spark, table), key))) == 8
