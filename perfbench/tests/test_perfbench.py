"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The first three run without Spark; ``test_traced_run_spans`` drives
``run.py`` end to end with ``--seconds 1`` (about a minute per workload).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import metrics as M  # noqa: E402
from run import Pass  # noqa: E402
from spans import Span  # noqa: E402
from workloads import WORKLOADS, KvTools, Op, Registry  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _spec() -> dict:
    with open(os.path.join(BENCH, "spec.json")) as f:
        return json.load(f)


def _kv(seed=3) -> KvTools:
    return KvTools(seed, "in", "work", datagen.make_tables(seed))


def _registry(seed=3) -> Registry:
    return Registry(seed, "in", "work", datagen.make_tables(seed))


def _synthetic_passes(wl) -> list[Pass]:
    """Two passes of plausible operations, traced and untraced."""
    passes = []
    for no, traced in ((1, False), (2, True)):
        ops = []
        if wl.name == "kv-tools":
            ops.append(Op("load", 1.5, no, facts={"files": 16, "bytes": 500_000}))
            for i in range(12):
                ops.append(Op("get", 0.2 + i / 1000, no, rows=5,
                              facts={"scan": {"numFiles": 16, "numOutputRows": 900}}))
            ops += [Op("copy_row", 1.4, no), Op("corrupt_rows", 0.9, no), Op("compact", 1.8, no)]
        else:
            ops.append(Op("fresh", 2.0, no, query="doc_dedup_clusters", rows=10))
            for i in range(12):
                ops.append(Op("request", 0.06 + i / 1000, no, query="q1_pricing_summary",
                              rows=6, facts={"cache_hit": True}))
        passes.append(Pass(no, traced, ops, (0, 0)))
    return passes


def _synthetic_spans(p: Pass) -> list[Span]:
    spans, t = [], 0.0
    for i, op in enumerate(p.ops):
        root = Span(10 * i, f"op.{op.kind}", t, None, i, t + op.dur)
        op.span = root
        spans.append(root)
        for j, name in enumerate(("registry.construct", "catalyst.plan", "operators.exec")):
            spans.append(Span(10 * i + j + 1, name, t, root.id, i, t + op.dur / 3,
                              counters={"jobs": 1, "stages_run": 2, "tasks": 4}))
        t += op.dur
    return spans


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_metric_names_match_benchmark_json(name):
    bench, spec = _bench(), _spec()
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)
    assert set(spec["workloads"]) == set(WORKLOADS)
    wl = _kv() if name == "kv-tools" else _registry()
    passes = _synthetic_passes(wl)
    e2e = M.end_to_end(wl, passes, [o for p in passes for o in p.ops], 30.0, 1500.0)
    layers = M.layers(passes, _synthetic_spans, 9.0, 0.5)
    for m in bench["end_to_end"]:
        assert m["name"] in spec["end_to_end"], m["name"]
        assert m["unit"] == spec["end_to_end"][m["name"]]["unit"], m["name"]
        assert e2e[m["name"]] is not None and e2e[m["name"]] > 0, m["name"]
    for m in bench["per_layer"]:
        assert m["name"] in spec["layers"], m["name"]
        assert m["unit"] == spec["layers"][m["name"]]["unit"], m["name"]
        assert layers.get(m["name"]) is not None, m["name"]
    # every metric the report prints is documented
    assert set(e2e) <= set(spec["end_to_end"])
    assert set(layers) <= set(spec["layers"])


def test_seed_reproduces_inputs_and_operation_sequence():
    a, b = datagen.make_tables(5), datagen.make_tables(5)
    assert all(a[t].equals(b[t]) for t in a)
    assert not datagen.make_tables(6)["orders"].equals(a["orders"])
    kv1, kv2, kv3 = _kv(5), _kv(5), _kv(6)
    seq = [kv1.pass_keys(p) for p in range(6)]
    assert seq == [kv2.pass_keys(p) for p in range(6)]
    assert seq != [kv3.pass_keys(p) for p in range(6)]
    assert kv1.corrupt == kv2.corrupt
    # keys are distinct across the run
    keys = [k for gets, copy in seq for k in (*gets, copy)]
    assert len(keys) == len(set(keys))
    r5, r6 = _registry(5), _registry(6)
    assert [r5.request_sequence(p) for p in (1, 2)] == [
        _registry(5).request_sequence(p) for p in (1, 2)
    ]
    assert r5.request_sequence(1) != r6.request_sequence(1)
    # the seed orders the requests; the mix is the same for every seed
    assert sorted(r5.request_sequence(1)) == sorted(r6.request_sequence(2))


def test_injected_wrong_output_counts_in_failed_frac():
    kv = _kv()
    gets, _ = kv.pass_keys(kv.warm_passes)
    good, bad = gets[0], gets[1]

    def get_op(key, served):
        cells = kv.expected_cells(served)
        table = pa.table({
            "qualifier": pa.array(list(cells), pa.binary()),
            "value": pa.array(list(cells.values()), pa.binary()),
        })
        op = Op("get", 0.2, 1, query=str(key), rows=table.num_rows)
        op.facts["output"] = table
        return op

    # the second Get is served another row's cells: a wrong output
    ops = [get_op(good, good), get_op(bad, good)]
    kv.check(ops, oracle=None)
    assert [o.ok for o in ops] == [True, False]
    passes = [Pass(1, False, ops, (0, 0))]
    assert M.end_to_end(kv, passes, ops, 1.0, 1.0)["failed_frac"] == 0.5

    class Oracle:
        want = {}

        def run(self, names):
            return 0.0

        def matches(self, name, table):
            return table.num_rows == 1

    reg = _registry()
    ops = []
    for n in (1, 2):
        table = pa.table({"x": list(range(n))})
        op = Op("request", 0.05, 1, query="q1_pricing_summary", rows=n)
        op.facts["output"] = table
        ops.append(op)
    reg.check(ops, Oracle())
    assert [o.ok for o in ops] == [True, False]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_traced_run_spans(name):
    seed = 4
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", name,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout[-3000:]
    assert {m["name"] for m in _bench()["per_layer"]} == set(result["metrics"])
    path = os.path.join(ROOT, ".perfbench_out", f"spans-{name}-s{seed}.jsonl")
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    ids = {s["id"]: s for s in spans}
    for layer in (*WORKLOADS[name].layers, "session.start"):
        found = [s for s in spans if s["name"] == layer]
        assert found, f"no {layer} span"
        for s in found:
            parent = ids.get(s["parent"])
            assert parent is not None, f"{layer} span without parent"
            assert s["start"] <= s["end"]
            if s["name"] != "session.start":
                # one request id from the op span down to its layer calls
                assert s["request"] == parent["request"] is not None
    # nothing left behind but the spans
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))
