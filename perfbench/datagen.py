"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's registry reads (TPC-H-ish star schema,
an ``events`` stream, ``documents`` and ``embeddings``) as one parquet file
each, with the column names, types and value domains of the engine's test
fixtures (FIXTURES.md). Everything is a pure function of the seed and the
fixed sizes, so one seed always yields byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


@dataclass(frozen=True)
class Sizes:
    """Row counts per table (the defaults match the fixtures' sf0.01)."""

    customer: int = 1500
    supplier: int = 100
    part: int = 2000
    orders: int = 15000
    lineitem: int = 60000
    events: int = 10000
    documents: int = 500
    embeddings: int = 500
    users: int = 150
    dim: int = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first_day: int, n_days: int, n: int) -> pa.Array:
    days = rng.integers(0, n_days, n)
    return pa.array(first_day + days * _DAY_US, pa.timestamp("us"))


def _documents(rng, n: int) -> dict:
    words = np.array(VOCAB)
    # 5% of documents are near-duplicates of an earlier one: the same words
    # plus one trailing token, the shape dedup and span queries look for
    n_dup = n // 20
    dup_at = set(int(i) for i in rng.choice(np.arange(n // 10, n), n_dup, replace=False))
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i in dup_at:
            # copy an original, never another copy, so every near-dup
            # cluster is a star and clustering work is the same for every seed
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            length = int(rng.integers(8, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), length)]))
            originals.append(i)
    order = rng.permutation(n)
    texts = [texts[j] for j in order]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int, dim: int) -> dict:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, dim))
    x = rng.normal(size=(n, dim)) + 0.15 * centroids[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    offsets = np.arange(0, n * dim + 1, dim, dtype=np.int32)
    values = pa.array(x.astype(np.float32).ravel(), pa.float32())
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(offsets), values),
        "label": pa.array(labels, pa.int32()),
    }


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, a pure function of the seed."""
    rng = np.random.default_rng(seed)
    s = Sizes()
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(s.customer), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(s.customer)]),
        "c_nationkey": pa.array(rng.integers(0, 25, s.customer), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.customer)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, s.customer), pa.string()),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(s.supplier), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s.supplier)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s.supplier), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.supplier)),
    }
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(
            rng.integers(0, len(PART_ADJ), s.part),
            rng.integers(0, len(PART_NOUN), s.part),
        )
    ]
    t["part"] = {
        "p_partkey": pa.array(np.arange(s.part), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, s.part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, s.part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, s.part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(s.part) % 1000) / 10, 1)
        ),
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(s.orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s.customer, s.orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], s.orders), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, s.orders)),
        "o_orderdate": _days(rng, _EPOCH_1995, 2404, s.orders),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, s.orders), pa.string()),
    }
    n = s.lineitem
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, s.orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s.part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s.supplier, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n), pa.string()),
        "l_shipdate": _days(rng, _EPOCH_1995 + _DAY_US, 2498, n),
    }
    n = s.events
    gaps = rng.exponential(259e6, n).astype(np.int64) + 1
    t["events"] = {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s.users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(0.01 + rng.lognormal(2.5, 1.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }
    t["documents"] = _documents(rng, s.documents)
    t["embeddings"] = _embeddings(rng, s.embeddings, s.dim)
    return {name: pa.table(cols) for name, cols in t.items()}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
