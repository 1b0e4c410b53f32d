"""Turn a run's operations and spans into the benchmark's metrics.

End-to-end metrics are medians over the timed passes. A latency percentile
is reported only where at least 10 samples lie beyond it (otherwise it is
``None`` in the report and absent from the gated set). Per-layer metrics
come from the traced passes only: each is the median over those passes of
the pass's total for that layer.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import Span, self_times

#: spans that build a plan through the package's public constructors
CONSTRUCT_SPANS = ("registry.construct", "entry.lookup", "sources.read", "operators.build")
SPARK_COUNTERS = (
    "stages_run",
    "stages_skipped",
    "tasks",
    "task_failures",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def percentile(xs, p: float):
    """The p-quantile (0<p<1) of xs, or None unless at least 10 samples lie
    beyond it."""
    xs = sorted(xs)
    if len(xs) * (1 - p) < 10:
        return None
    return statistics.quantiles(xs, n=100, method="inclusive")[round(p * 100) - 1]


def subtree(spans: list[Span], root: Span) -> list[Span]:
    kids = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids[s.id])
    return out


def pass_layers(spans: list[Span], ops) -> dict:
    """Per-layer totals of one traced pass."""
    st = self_times(spans)

    def self_s(*names):
        return sum(st[s.id] for s in spans if s.name in names)

    out = {
        "registry.construct_s": self_s(*CONSTRUCT_SPANS),
        "registry.construct_jobs": sum(
            s.counters.get("jobs", 0) for s in spans if s.name in CONSTRUCT_SPANS
        ),
        "catalyst.plan_s": self_s("catalyst.plan"),
        "operators.exec_s": self_s("operators.exec"),
        "collect.s": self_s("collect.arrow"),
        "collect.rows": sum(o.rows for o in ops),
        "collect.bytes": sum(o.nbytes for o in ops),
        "sources.load_s": self_s("sources.load") or None,
        "cli.copy_row_s": self_s("cli.copy_row") or None,
        "cli.corrupt_rows_s": self_s("cli.corrupt_rows") or None,
        "cli.compact_s": self_s("cli.compact") or None,
    }
    for c in SPARK_COUNTERS:
        out[f"operators.{c}"] = sum(s.counters.get(c, 0) for s in spans)
    lookups = [s.dur * 1000 for s in spans if s.name == "entry.lookup"]
    out["entry.lookup_ms"] = median(lookups)
    hits = [o.facts["cache_hit"] for o in ops if "cache_hit" in o.facts]
    out["entry.plan_cache_hit_frac"] = sum(hits) / len(hits) if hits else 0.0
    out["plans.pinned_rdds"] = max((o.facts.get("pinned", 0) for o in ops), default=0)
    out["plans.cached_bytes"] = max((o.facts.get("cached_bytes", 0) for o in ops), default=0)
    loads = [o for o in ops if o.kind == "load" and "files" in o.facts]
    out["sources.files_written"] = sum(o.facts["files"] for o in loads)
    out["sources.bytes_written"] = sum(o.facts["bytes"] for o in loads)
    gets = [o for o in ops if o.kind == "get" and "scan" in o.facts]
    out["sources.get_files_read"] = (
        statistics.mean(o.facts["scan"].get("numFiles", 0) for o in gets) if gets else 0
    )
    results = sum(o.rows for o in gets)
    out["sources.get_rows_scanned_per_result"] = (
        sum(o.facts["scan"].get("numOutputRows", 0) for o in gets) / results
        if results
        else 0
    )
    return out


def op_stages(spans: list[Span], op) -> tuple[int, int]:
    """Spark stages an operation ran: (while constructing, in its action)."""
    if op.span is None:
        return 0, 0
    tree = subtree(spans, op.span)
    construct = sum(s.counters.get("stages_run", 0) for s in tree if s.name in CONSTRUCT_SPANS)
    action = sum(s.counters.get("stages_run", 0) for s in tree) - construct
    return construct, action


def kind_durs(passes, kind: str) -> list[float]:
    return [o.dur for p in passes for o in p.ops if o.kind == kind and o.ok]


def end_to_end(workload, passes, all_ops, setup_s: float, peak_mb: float) -> dict:
    """Every end-to-end metric that applies to the workload (None where the
    workload has no such operation or too few samples). ``failed_frac``
    counts every operation of the run, the warm-up passes' too."""
    m = {
        "setup_s": setup_s,
        "pass_s": median(sum(o.dur for o in p.ops) for p in passes),
        "peak_rss_mb": peak_mb,
    }
    m["failed_frac"] = sum(not o.ok for o in all_ops) / len(all_ops) if all_ops else None
    if workload.name == "kv-tools":
        gets = kind_durs(passes, "get")
        m["request_p50_ms"] = m["get_p50_ms"] = _ms(percentile(gets, 0.5))
        m["get_p95_ms"] = _ms(percentile(gets, 0.95))
        m["copy_row_p50_ms"] = _ms(median(kind_durs(passes, "copy_row")))
        load = median(kind_durs(passes, "load"))
        m["load_cells_per_s"] = workload.n_cells / load if load else None
        audit = median(kind_durs(passes, "corrupt_rows"))
        m["audit_rows_per_s"] = workload.n_rows / audit if audit else None
        written = median(
            o.facts["bytes"] for p in passes for o in p.ops if "bytes" in o.facts
        )
        m["bytes_per_user_byte"] = written / workload.user_bytes if written else None
    else:
        lat = kind_durs(passes, "request")
        m["request_p50_ms"] = m["query_p50_ms"] = _ms(percentile(lat, 0.5))
        m["query_p95_ms"] = _ms(percentile(lat, 0.95))
    return m


def _ms(s):
    return None if s is None else s * 1000.0


def layers(passes, spans_of, session_start_s: float, control_s: float) -> dict:
    """Per-layer metrics: medians over traced passes of pass totals."""
    traced = [p for p in passes if p.traced]
    untraced = [p for p in passes if not p.traced]
    per_pass = [pass_layers(spans_of(p), p.ops) for p in traced]
    out = {}
    for key in per_pass[0] if per_pass else ():
        out[key] = median(pp[key] for pp in per_pass)
    out["session.start_s"] = session_start_s
    out["host.duckdb_control_s"] = control_s
    t = median(sum(o.dur for o in p.ops) for p in traced)
    u = median(sum(o.dur for o in p.ops) for p in untraced)
    out["trace.overhead_frac"] = t / u - 1.0 if t and u else None
    return out
