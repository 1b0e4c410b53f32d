"""The benchmark's three workloads and their correctness checks.

Each workload drives the engine from outside, through its public entry
points only (``session``, ``entry.QUERIES`` and its ``__wrapped__``
constructors, ``sources``, ``operators``, ``cli.main``), times every call at
the layer boundary and keeps every output. The outputs are
checked after the timed window:

* registry outputs are hash-compared with their ``ORACLE_SQL`` twin on
  DuckDB, canonicalized by ``tools.sf_sweep.canon_rows``;
* ``kv-tools`` outputs are checked against invariants of the generated input.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import re
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from spans import Span, Tracer, scan_metrics, storage_state

# the engine's base cell timestamp (sources.cells.CELL_TS); copy-row bumps it
CELL_TS = 1_704_067_200_000
ORDER_KEY_FMT = "ord#%010d"
#: qualifiers of one orders row, as SQL renderings (see expected_cells)
ORDER_VALUES = {
    "o_custkey": "cast(o_custkey as string)",
    "o_orderdate": "cast(o_orderdate as string)",
    "o_orderpriority": "o_orderpriority",
    "o_orderstatus": "o_orderstatus",
    "o_totalprice": "format_string('%.2f', o_totalprice)",
}
CORRUPT_SHARE = 0.02
REGIONS = 16

BATCH_QUERIES = ("doc_dedup_clusters",)

#: serve-repeat mix in fixed popularity order (rank 1 first); the seed picks
#: the request sequence, never the ranking, so every seed sees the same mix.
#: The rank order and the Zipf exponent are assumptions, not measured
#: traffic: no gain may be claimed from the mix's shape, and the mix stays
#: fixed until a measured one exists.
SERVE_QUERIES = (
    "kv_point_get",
    "q1_pricing_summary",
    "events_hourly",
    "q3_shipping_priority",
    "text_token_stats",
    "kv_audit_counters",
)
SERVE_ZIPF_S = 1.1
SERVE_PASS_REQUESTS = 30


@dataclass
class Op:
    """One attempted operation of a timed pass."""

    kind: str
    dur: float
    passno: int
    ok: bool = True
    error: str | None = None
    query: str | None = None
    rows: int = 0
    nbytes: int = 0
    span: Span | None = None
    facts: dict = field(default_factory=dict)


def fingerprint(table: pa.Table) -> str:
    """Content hash of an Arrow table: equal hashes mean equal outputs."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha1(sink.getvalue().to_pybytes()).hexdigest()


def arrow_table(df, batches) -> pa.Table:
    if batches:
        return pa.Table.from_batches(batches)
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(df.schema).empty_table()


def timed_action(tracer: Tracer, df) -> pa.Table:
    """Plan, execute and collect ``df`` to Arrow on the driver.

    Traced, the call splits into ``catalyst.plan`` (the executed plan, built
    before the action) and ``operators.exec``, whose tail after the last
    Spark job ended is recorded as its ``collect.arrow`` child."""
    with tracer.span("catalyst.plan"):
        df._jdf.queryExecution().executedPlan()
    with tracer.span("operators.exec") as s:
        batches = df._collect_as_arrow()
        end_wall = time.time()
    if s is not None:
        last = s.counters.get("last_job_end")
        tail = min(max(end_wall - last, 0.0), s.dur) if last else 0.0
        tracer.add_child(s, "collect.arrow", s.end - tail, s.end)
    return arrow_table(df, batches)


def run_cli(tracer: Tracer, name: str, argv: list[str]) -> tuple[int, str]:
    """``cli.main(argv)`` with its stdout captured (the benchmark's own
    stdout carries only its report)."""
    from symat_hbase_tools_spark import cli

    out = io.StringIO()
    with tracer.span(name), contextlib.redirect_stdout(out):
        rc = cli.main(argv)
    return rc, out.getvalue()


def _counter(text: str, name: str) -> int | None:
    m = re.search(rf"\b{name}=(\d+)", text)
    return int(m.group(1)) if m else None


class Workload:
    name = ""
    #: passes run in set-up, the first with cold plans: the JVM's JIT keeps
    #: speeding later passes up, and timed passes should sit past that slope
    warm_passes: int
    #: the fewest timed passes a run makes, however short ``--seconds`` is
    timed_passes: int
    #: span names a traced pass of this workload must emit
    layers: tuple[str, ...] = ()

    def __init__(self, seed: int, in_dir: str, work_dir: str, tables: dict):
        self.seed = seed
        self.in_dir = in_dir
        self.work_dir = work_dir
        self.tables = tables
        self.rng = np.random.default_rng([seed, 7])

    def prepare(self, spark) -> None:
        """Workload-specific input derivation (part of set-up)."""

    def run_pass(self, spark, tracer: Tracer, passno: int, warm: bool = False) -> list[Op]:
        raise NotImplementedError

    def sizes(self) -> dict:
        return {t: v.num_rows for t, v in self.tables.items()}

    def check(self, ops: list[Op], oracle) -> None:
        """Mark wrong outputs failed (after the timed window)."""


def traced_op(tracer: Tracer, kind: str, passno: int, fn, **attrs) -> Op:
    """Run one operation as a request: an ``op.<kind>`` span whose children
    are the layer calls; an exception marks the op failed."""
    tracer.request = (tracer.request or 0) + 1
    op = Op(kind, 0.0, passno, **attrs)
    t0 = time.perf_counter()
    try:
        with tracer.span(f"op.{kind}") as s:
            fn(op)
        op.span = s
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
        op.ok, op.error = False, f"{type(exc).__name__}: {str(exc)[:300]}"
    op.dur = time.perf_counter() - t0
    if tracer.enabled and tracer.spark is not None:
        # the engine's pins, read after every operation
        op.facts["pinned"], op.facts["cached_bytes"] = storage_state(
            tracer.spark.sparkContext
        )
    return op


def record_output(op: Op, table: pa.Table) -> None:
    op.rows, op.nbytes = table.num_rows, table.nbytes
    op.facts["output"] = table


# ---------------------------------------------------------------------------
# kv-tools


class KvTools(Workload):
    """Bulk load, point Gets, CLI copy-row in place, CLI audit, CLI compact
    on a cells table encoded from ``orders``."""

    name = "kv-tools"
    layers = (
        "sources.load",
        "sources.read",
        "operators.build",
        "catalyst.plan",
        "operators.exec",
        "collect.arrow",
        "cli.copy_row",
        "cli.corrupt_rows",
        "cli.compact",
    )
    gets_per_pass = 10
    # after the cold pass, the next three ran about 1.4x, 1.15x and 1.1x as
    # long as the sixth and later ones. Set-up warms with one short pass (3
    # Gets) and the median of three timed passes is the second of them: a
    # run stays within about a minute, and a fixed count keeps the median at
    # one place on the slope, which stretches when the host is busy
    warm_gets = 3
    warm_passes = 2
    timed_passes = 3

    def __init__(self, *a):
        super().__init__(*a)
        orders = self.tables["orders"]
        keys = orders.column("o_orderkey").to_numpy()
        n = len(keys)
        self.corrupt = set(
            int(k) for k in self.rng.choice(keys, int(n * CORRUPT_SHARE), replace=False)
        )
        # distinct keys for every Get and every copy-row of the run
        self.key_order = [int(k) for k in self.rng.permutation(keys)]
        self.table = os.path.join(self.work_dir, "kv", "orders_cells")
        self.report_dir = os.path.join(self.work_dir, "kv", "audit_report")
        self.compact_dir = os.path.join(self.work_dir, "kv", "compacted")
        self.n_rows = n
        self.n_cells = n * len(ORDER_VALUES) + len(self.corrupt)
        self.user_bytes = self._user_bytes()

    def n_gets(self, passno: int) -> int:
        """Gets in a pass: one in the cold first pass (number 0), a few in
        the other warm-up passes, ``gets_per_pass`` in timed ones."""
        if passno == 0:
            return 1
        return self.warm_gets if passno < self.warm_passes else self.gets_per_pass

    def pass_keys(self, passno: int) -> tuple[list[int], int]:
        """(Get keys, copy-row key) of a pass: distinct keys drawn in seed
        order."""
        start = sum(self.n_gets(p) + 1 for p in range(passno))
        n = self.n_gets(passno)
        keys = [self.key_order[(start + i) % len(self.key_order)] for i in range(n + 1)]
        return keys[:-1], keys[-1]

    def _render(self, o: dict) -> dict[bytes, bytes]:
        """qualifier -> value of one orders row, rendered as the encoder
        (ORDER_VALUES) renders it, plus the marker cell of a corrupt row."""
        cells = {
            b"o_custkey": str(o["o_custkey"]),
            b"o_orderdate": o["o_orderdate"].strftime("%Y-%m-%d %H:%M:%S"),
            b"o_orderpriority": o["o_orderpriority"],
            b"o_orderstatus": o["o_orderstatus"],
            b"o_totalprice": "%.2f" % o["o_totalprice"],
        }
        if o["o_orderkey"] in self.corrupt:
            cells[b"corrupt"] = "1"
        return {q: v.encode() for q, v in cells.items()}

    def expected_cells(self, key: int) -> dict[bytes, bytes]:
        """The cells a Get of ``key`` must return."""
        o = self.tables["orders"].slice(key, 1).to_pylist()[0]
        if o["o_orderkey"] != key:
            raise ValueError(f"orders row {key} holds key {o['o_orderkey']}")
        return self._render(o)

    def _user_bytes(self) -> int:
        """Raw cell bytes: row + family + qualifier + value + 8 (ts)."""
        per_cell = len(ORDER_KEY_FMT % 0) + len("cf") + 8
        return sum(
            per_cell + len(q) + len(v)
            for o in self.tables["orders"].to_pylist()
            for q, v in self._render(o).items()
        )

    def prepare(self, spark) -> None:
        """Encode ``orders`` as cells and check the cell count."""
        from pyspark.sql import functions as F

        from symat_hbase_tools_spark.sources.cells import encode_table_as_cells
        from symat_hbase_tools_spark.sources.tables import load_table

        orders = load_table(spark, self.in_dir, "orders")
        key_sql = f"format_string('{ORDER_KEY_FMT}', o_orderkey)"
        cells = encode_table_as_cells(orders, key_sql, ORDER_VALUES)
        marker = orders.filter(F.col("o_orderkey").isin(sorted(self.corrupt))).select(
            F.expr(f"encode({key_sql}, 'UTF-8')").alias("row"),
            F.lit("cf").alias("family"),
            F.encode(F.lit("corrupt"), "UTF-8").alias("qualifier"),
            F.lit(CELL_TS).cast("long").alias("ts"),
            F.lit("Put").alias("type"),
            F.encode(F.lit("1"), "UTF-8").alias("value"),
        )
        self.cells = cells.unionByName(marker)
        got = self.cells.count()
        if got != self.n_cells:
            raise RuntimeError(f"{got} cells encoded, {self.n_cells} expected")

    def run_pass(self, spark, tracer, passno, warm=False):
        from symat_hbase_tools_spark.operators import kv
        from symat_hbase_tools_spark.operators.bulkload import bulk_load_cells
        from symat_hbase_tools_spark.sources.io import read_cells

        ops = []

        def load(op):
            with tracer.span("sources.load"):
                bulk_load_cells(self.cells, self.table, REGIONS)

        op = traced_op(tracer, "load", passno, load)
        ops.append(op)
        if op.ok:
            files = [f for f in os.listdir(self.table) if f.endswith(".parquet")]
            op.facts["files"] = len(files)
            op.facts["bytes"] = sum(os.path.getsize(os.path.join(self.table, f)) for f in files)
            op.facts["cells_read_back"] = _duck_count(self.table)

        get_keys, copy_key = self.pass_keys(passno)
        for key in get_keys:

            def get(op, key=key):
                with tracer.span("sources.read"):
                    cells = read_cells(spark, self.table)
                with tracer.span("operators.build"):
                    df = kv.point_get(cells, (ORDER_KEY_FMT % key).encode())
                table = timed_action(tracer, df)
                record_output(op, table)
                if tracer.enabled:
                    op.facts["scan"] = scan_metrics(df)

            ops.append(traced_op(tracer, "get", passno, get, query=str(key)))

        key = copy_key
        bumped = CELL_TS + 86_400_000 * (passno + 2)

        def copy_row(op):
            rc, out = run_cli(tracer, "cli.copy_row", [
                "copy-row", "--sourceTable", self.table, "--destTable", self.table,
                "--rowKeyByteString", ORDER_KEY_FMT % key,
                "--override", "true", "--timestampToUse", str(bumped),
            ])
            if rc != 0:
                raise RuntimeError(f"copy-row exit {rc}: {out.strip()[-200:]}")
            m = re.search(r"copied (\d+) cells", out)
            op.facts["copied"] = int(m.group(1)) if m else None

        op = traced_op(tracer, "copy_row", passno, copy_row, query=str(key))
        ops.append(op)
        if op.ok:
            op.facts["key"], op.facts["bumped"] = key, bumped
            op.facts["row_cells"] = _duck_row(self.table, ORDER_KEY_FMT % key)

        def corrupt_rows(op):
            rc, out = run_cli(tracer, "cli.corrupt_rows", [
                "corrupt-rows", "--table", self.table, "--output", self.report_dir,
            ])
            if rc not in (0, 2):
                raise RuntimeError(f"corrupt-rows exit {rc}: {out.strip()[-200:]}")
            for c in ("TOTAL_ROWS", "SUCCESS_ROWS", "FAILED_ROWS"):
                op.facts[c] = _counter(out, c)
            op.facts["rc"] = rc

        ops.append(traced_op(tracer, "corrupt_rows", passno, corrupt_rows))

        def compact(op):
            rc, out = run_cli(tracer, "cli.compact", [
                "compact", "--table", self.table, "--output", self.compact_dir,
            ])
            if rc != 0:
                raise RuntimeError(f"compact exit {rc}: {out.strip()[-200:]}")
            for c in ("CELLS_BEFORE", "CELLS_AFTER"):
                op.facts[c] = _counter(out, c)

        op = traced_op(tracer, "compact", passno, compact)
        ops.append(op)
        if op.ok:
            op.facts["cells_read_back"] = _duck_count(self.compact_dir)
        return ops

    def check(self, ops, oracle):
        copied = {o.passno: o.facts.get("copied") or 0 for o in ops if o.kind == "copy_row"}
        for op in ops:
            if not op.ok:
                continue
            f = op.facts
            if op.kind == "load":
                ok = f.get("cells_read_back") == self.n_cells
            elif op.kind == "get":
                got = {
                    bytes(q): bytes(v)
                    for q, v in zip(
                        f["output"].column("qualifier").to_pylist(),
                        f["output"].column("value").to_pylist(),
                    )
                }
                ok = op.rows == len(got) and got == self.expected_cells(int(op.query))
            elif op.kind == "copy_row":
                want = self.expected_cells(f["key"])
                bumped = {q: v for q, ts, v in f["row_cells"] if ts == f["bumped"]}
                ok = f.get("copied") == len(want) and bumped == want
            elif op.kind == "corrupt_rows":
                ok = (
                    f["FAILED_ROWS"] == len(self.corrupt)
                    and f["TOTAL_ROWS"] == f["SUCCESS_ROWS"] + f["FAILED_ROWS"]
                    and f["TOTAL_ROWS"] == self.n_rows
                    and f["rc"] == 2
                )
            elif op.kind == "compact":
                ok = (
                    f["CELLS_BEFORE"] == self.n_cells + copied.get(op.passno, 0)
                    and f["CELLS_AFTER"] == self.n_cells
                    and f.get("cells_read_back") == self.n_cells
                )
            else:
                ok = False
            if not ok:
                op.ok, op.error = False, f"wrong output of {op.kind}"


def _duck_count(path: str) -> int:
    import duckdb

    return duckdb.execute(
        f"SELECT count(*) FROM read_parquet('{path}/*.parquet')"
    ).fetchone()[0]


def _duck_row(path: str, key: str) -> list[tuple[bytes, int, bytes]]:
    import duckdb

    return [
        (bytes(q), ts, bytes(v))
        for q, ts, v in duckdb.execute(
            f"SELECT qualifier, ts, value FROM read_parquet('{path}/*.parquet') "
            "WHERE row = encode(?)",
            [key],
        ).fetchall()
    ]


# ---------------------------------------------------------------------------
# registry workloads


class Oracle:
    """DuckDB over the generated inputs: the ORACLE_SQL twin of registry
    queries, each run and canonicalized once."""

    def __init__(self, in_dir: str, temp_dir: str):
        import duckdb

        from symat_hbase_tools_spark.entry import ORACLE_SQL

        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        for f in sorted(os.listdir(in_dir)):
            if f.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(in_dir, f)}')"
                )
        self.sql = ORACLE_SQL
        self.want: dict[str, tuple] = {}

    def run(self, names) -> float:
        """Run the named oracles; returns their wall time."""
        from tools.sf_sweep import canon_rows

        t0 = time.perf_counter()
        frames = {n: self.con.execute(self.sql[n]).fetchdf() for n in names}
        dt = time.perf_counter() - t0
        self.want.update({n: canon_rows(pdf) for n, pdf in frames.items()})
        return dt

    def matches(self, name: str, table: pa.Table) -> bool:
        from tools.sf_sweep import canon_rows

        return canon_rows(table.to_pandas()) == self.want[name]


class Registry(Workload):
    """The registry in two regimes per pass.

    batch-fresh: each heavy query rebuilt through ``QUERIES[name].__wrapped__``
    after ``clearCache()`` — no plan cache, no shuffle reuse, every stage
    re-runs. serve-repeat: a seeded, skewed request sequence through
    ``entry.QUERIES`` (the prepared-plan cache), as a long-lived session
    serves it."""

    name = "registry"
    # after the cold pass, the next four ran 1.8x down to 1.1x as long as
    # the tenth and later ones. A fixed count of timed passes (their window
    # outlasts --seconds) keeps the median at one place on the rest of that
    # slope, which stretches when the host is busy
    warm_passes = 5
    timed_passes = 4
    layers = (
        "registry.construct",
        "entry.lookup",
        "catalyst.plan",
        "operators.exec",
        "collect.arrow",
    )

    def __init__(self, *a):
        super().__init__(*a)
        self._seen: dict[str, int] = {}

    @staticmethod
    def pass_mix() -> list[str]:
        """The requests of one pass: Zipf(s) popularity over the fixed rank
        order, as whole counts, so every pass and every seed serve the
        same mix."""
        w = 1.0 / np.arange(1, len(SERVE_QUERIES) + 1) ** SERVE_ZIPF_S
        counts = np.maximum(1, np.round(w / w.sum() * SERVE_PASS_REQUESTS)).astype(int)
        counts[0] += SERVE_PASS_REQUESTS - counts.sum()
        return [q for q, c in zip(SERVE_QUERIES, counts) for _ in range(c)]

    def request_sequence(self, passno: int) -> list[str]:
        """The request order of a timed pass: the pass mix shuffled by the
        seed."""
        rng = np.random.default_rng([self.seed, 11, passno])
        return [str(q) for q in rng.permutation(self.pass_mix())]

    def run_pass(self, spark, tracer, passno, warm=False):
        from symat_hbase_tools_spark import entry

        ops = []
        for name in BATCH_QUERIES:
            spark.catalog.clearCache()

            def fresh(op, name=name):
                with tracer.span("registry.construct") as s:
                    df = entry.QUERIES[name].__wrapped__(spark, self.in_dir)
                if s is not None:
                    op.facts["construct_jobs"] = s.counters.get("jobs", 0)
                table = timed_action(tracer, df)
                record_output(op, table)

            ops.append(traced_op(tracer, "fresh", passno, fresh, query=name))

        # in the warm-up pass the first request of every query builds its
        # prepared plan
        names = list(SERVE_QUERIES) if warm else self.request_sequence(passno)
        for name in names:

            def request(op, name=name):
                with tracer.span("entry.lookup"):
                    df = entry.QUERIES[name](spark, self.in_dir)
                op.facts["cache_hit"] = self._seen.get(name) == id(df)
                self._seen[name] = id(df)
                table = timed_action(tracer, df)
                record_output(op, table)

            ops.append(traced_op(tracer, "request", passno, request, query=name))
        return ops

    def check(self, ops, oracle):
        oracle.run([q for q in (*BATCH_QUERIES, *SERVE_QUERIES) if q not in oracle.want])
        # equal output bytes get one verdict: canonicalize each distinct output once
        verdict: dict[tuple[str, str], bool] = {}
        for op in ops:
            if not op.ok:
                continue
            key = (op.query, fingerprint(op.facts["output"]))
            if key not in verdict:
                verdict[key] = oracle.matches(op.query, op.facts["output"])
            if not verdict[key]:
                op.ok, op.error = False, f"{op.query}: output differs from ORACLE_SQL"


WORKLOADS = {w.name: w for w in (KvTools, Registry)}
