"""Region store: range pruning on the bulk-loaded region layout.

A bulk load (``operators/bulkload.py``) writes N sorted, range-disjoint
region files and a region manifest — the HBase pre-split table and its meta
rows (region i holds ``[start_i, start_{i+1})``; one map task per region is
the TableInputFormat split of ``CorruptRowsMR.java:68``). ``kv.point_get``
and ``kv.range_scan`` on the ``read_cells`` scan open only the region files
their key range touches: a point Get opens 1 region, an empty range none.
Non-key predicates are applied on top, and rows keep HBase's unsigned
lexicographic scan order.
"""

from __future__ import annotations

import functools
import glob

import duckdb
import pytest
from pyspark.sql import functions as F

from symat_hbase_tools_spark.operators import kv
from symat_hbase_tools_spark.operators.bulkload import bulk_load_cells
from symat_hbase_tools_spark.sources import io as cio
from symat_hbase_tools_spark.sources.cells import customer_cells
from tests.test_regions import _manifest, _rows, _scan

N_REGIONS = 8


@pytest.fixture(scope="module")
def store(spark, customer, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("regionstore") / "cells")
    cells = customer_cells(customer)
    bulk_load_cells(cells, path, N_REGIONS)
    return path, _manifest(path), cells


def _starts(meta):
    return [bytes.fromhex(r["start"]) for r in meta]


def test_store_metadata_covers_keyspace(spark, store):
    """One manifest entry per region file, start keys ascending, and the
    regions' cell counts add up to the table."""
    path, meta, cells = store
    assert len(meta) == N_REGIONS
    assert {r["file"] for r in meta} == set(cio.data_file_names(spark, path))
    assert _starts(meta) == sorted(_starts(meta))
    assert sum(r["cells"] for r in meta) == cells.count()


def test_full_scan_roundtrip(spark, store):
    path, _, cells = store
    assert _rows(cio.read_cells(spark, path)) == _rows(cells)


def test_range_scan_matches_dataframe_filter(spark, store):
    path, _, cells = store
    start, stop = b"cust#00000030", b"cust#00000090"
    got = kv.range_scan(cio.read_cells(spark, path), start, stop)
    assert _rows(got) == _rows(
        cells.filter((F.col("row") >= start) & (F.col("row") < stop))
    )


def test_range_pushdown_prunes_regions(spark, store):
    """start is inclusive and stop exclusive, also when they fall exactly on
    region start keys: [start_2, start_4) opens regions 2 and 3 only."""
    path, meta, cells = store
    table = cio.read_cells(spark, path)
    s = _starts(meta)
    cases = [
        ((s[2], s[4]), 2),
        ((s[2], s[2] + b"\x00"), 1),
        ((None, s[1]), 1),
        ((s[-1], None), 1),
        ((None, None), len(s)),
    ]
    for (start, stop), n_files in cases:
        got = _scan(kv.range_scan(table, start, stop))
        pred = F.lit(True)
        if start is not None:
            pred &= F.col("row") >= start
        if stop is not None:
            pred &= F.col("row") < stop
        assert got["rows"] == _rows(cells.filter(pred)), (start, stop)
        assert got["numFiles"] == n_files, (start, stop)
    got = _scan(kv.range_scan(table, b"cust#00000030", b"cust#00000090"))
    assert 0 < got["numFiles"] < len(s)
    rows = {r[0] for r in _scan(kv.range_scan(table, s[2], s[4]))["rows"]}
    assert s[2] in rows and s[4] not in rows


def test_point_get_touches_one_region(spark, store):
    path, _, cells = store
    table = cio.read_cells(spark, path)
    for key in (b"cust#00000000", b"cust#00000042", b"cust#00000149"):
        got = _scan(kv.point_get(table, key))
        assert got["rows"] == _rows(cells.filter(F.col("row") == key))
        assert got["numFiles"] == 1
    # below the first region's start: no region holds it, no file opens
    got = _scan(kv.point_get(table, b"cust"))
    assert got["rows"] == [] and got["numFiles"] == 0


def test_multi_get_in_filter(spark, store):
    """3 Gets spread across the keyspace open at most 3 of the 8 regions."""
    path, _, cells = store
    table = cio.read_cells(spark, path)
    keys = [b"cust#00000001", b"cust#00000080", b"cust#00000149"]
    got = _scan(
        functools.reduce(
            lambda a, b: a.unionByName(b), (kv.point_get(table, k) for k in keys)
        )
    )
    assert got["numFiles"] <= 3
    assert got["rows"] == _rows(cells.filter(F.col("row").isin(keys)))


def test_greater_than_excludes_boundary(spark, store):
    """row > k is the scan from k's successor, k + 0x00 (unsigned lex)."""
    path, _, cells = store
    k = b"cust#00000100"
    got = _rows(kv.range_scan(cio.read_cells(spark, path), k + b"\x00"))
    assert got == _rows(cells.filter(F.col("row") > k))
    assert got and all(row[0] > k for row in got)


def test_less_than_or_equal_includes_boundary(spark, store):
    """row <= k is the scan stopping before k's successor, k + 0x00."""
    path, _, cells = store
    k = b"cust#00000010"
    got = _rows(kv.range_scan(cio.read_cells(spark, path), None, k + b"\x00"))
    assert got == _rows(cells.filter(F.col("row") <= k))
    assert any(row[0] == k for row in got)


def test_empty_range_reads_nothing(spark, store):
    path, _, _ = store
    table = cio.read_cells(spark, path)
    for start, stop in ((b"cust#00000090", b"cust#00000030"), (b"cust#00000042",) * 2):
        got = _scan(kv.range_scan(table, start, stop))
        assert got["rows"] == [] and got["numFiles"] == 0


def test_non_key_filters_are_residual(spark, store):
    """A qualifier predicate on top of a range scan is still applied — the
    mixed query returns exactly the right rows."""
    path, _, cells = store
    start, stop = b"cust#00000030", b"cust#00000090"
    name = F.decode("qualifier", "UTF-8") == "c_name"
    got = kv.range_scan(cio.read_cells(spark, path), start, stop).filter(name)
    want = cells.filter((F.col("row") >= start) & (F.col("row") < stop)).filter(name)
    assert _rows(want) and _rows(got) == _rows(want)


def test_scan_order_is_hbase_order(spark, store):
    """Each region file is sorted by (row, family, qualifier, ts), and
    orderBy(row) over a range scan reproduces unsigned-lex HBase scan
    order."""
    path, _, _ = store
    con = duckdb.connect()
    for f in glob.glob(f"{path}/*.parquet"):
        got = con.execute(
            f"SELECT row, family, qualifier, ts FROM read_parquet('{f}')"
        ).fetchall()
        assert got == sorted(got), f
    keys = [
        bytes(r["row"])
        for r in kv.range_scan(cio.read_cells(spark, path), b"cust#00000010")
        .orderBy("row")
        .select("row")
        .collect()
    ]
    assert keys and keys == sorted(keys)
