#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, a timed closed loop.

    python3 perfbench/run.py --workload kv-tools --seed 1 --seconds 10 --trace 0

Run from the repository root. The run sets up once (session start with
the JVM, input generation from the seed, workload preparation and the
workload's warm-up passes: the ``setup_s`` metric), then runs passes of the
workload back to back for ``--seconds`` with a single client on
``local[N]``. Every output is checked after the timed window. Everything
the run writes lives under ``.perfbench_work/`` in the checkout and is
removed at the end; ``--trace 1`` also leaves its spans in
``.perfbench_out/``.

Standard output: one JSON report line with every metric of the workload and
the run's settings, then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``). Exit code 0 when the run completed; without a result
line and non-zero when it could not (2: not run from a full checkout).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Spark task slots. A pass keeps about two cores busy beyond its tasks
#: (the Python driver, the JVM's scheduler, JIT and GC threads), so more
#: slots than two on a four-core host measure the host's scheduler
MAX_CPUS = 2
MAX_DRIVER_MB = 3072


@dataclass
class Pass:
    no: int
    traced: bool
    ops: list
    spans: tuple[int, int]


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_settings() -> dict:
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    mem = os.environ.get("SPARK_DRIVER_MEMORY")
    if not mem:
        with open("/proc/meminfo") as f:
            total_mb = int(f.readline().split()[1]) // 1024
        mem = f"{min(MAX_DRIVER_MB, total_mb // 4)}m"
    return {"cpus": cpus, "master": f"local[{cpus}]", "driver_memory": mem}


def bootstrap_env(work: str, settings: dict) -> None:
    """Point every scratch location of Spark, the JVM, Python and the engine
    into the run's own directory, and size the driver to the host."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = settings["driver_memory"]
    os.environ["SPARK_GRAFT_CPUS"] = str(settings["cpus"])
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    settings["local_dirs"] = os.path.relpath(local, ROOT)
    os.chdir(work)


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the host's vCPUs so far, in jiffies."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def stop_engine(spark) -> None:
    """Stop Spark, then the driver JVM, and wait until every process this
    run started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    from spans import alive, descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while left := [p for p in started if alive(p)]:
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
    log("engine stopped")


def run(args, settings: dict, work: str) -> tuple[dict, dict]:
    import datagen
    import metrics as M
    from spans import RssSampler, Tracer
    from workloads import BATCH_QUERIES, WORKLOADS, Oracle

    from symat_hbase_tools_spark.session import get_spark

    in_dir = os.path.join(work, "inputs")
    sampler = RssSampler().start()
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        passes: list[Pass] = []

        def one_pass(no: int, traced: bool, **kw) -> Pass:
            tracer.enabled = traced
            first = len(tracer.spans)
            with tracer.span("pass"):
                ops = wl.run_pass(spark, tracer, no, **kw)
            return Pass(no, traced, ops, (first, len(tracer.spans)))

        t0 = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("session.start"):
                s0 = time.perf_counter()
                spark = get_spark("perfbench", cpus=settings["cpus"])
                start_s = time.perf_counter() - s0
            log(f"session started: {start_s:.2f}s")
            with tracer.span("inputs.generate"):
                tables = datagen.make_tables(args.seed)
                datagen.write_tables(tables, in_dir)
            wl = WORKLOADS[args.workload](args.seed, in_dir, work, tables)
            with tracer.span("inputs.prepare"):
                wl.prepare(spark)
            log("inputs generated and prepared")
            if args.trace:
                tracer.spark = spark
            warm = [one_pass(0, bool(args.trace), warm=True)]
            warm += [one_pass(no, False) for no in range(1, wl.warm_passes)]
            log("warm-up passes of "
                f"{', '.join(f'{sum(o.dur for o in p.ops):.2f}' for p in warm)}s")
        setup_s = time.perf_counter() - t0
        log(f"set-up with {len(warm)} warm-up passes: {setup_s:.2f}s")

        t0 = time.perf_counter()
        steal0 = cpu_jiffies()
        no = len(warm)
        # at least the workload's minimum of passes: a median, and in a
        # traced run passes of both kinds
        while len(passes) < wl.timed_passes or time.perf_counter() - t0 < args.seconds:
            # traced runs alternate traced and untraced passes, so the
            # tracing overhead is measured in the same run
            passes.append(one_pass(no, bool(args.trace) and no % 2 == 0))
            no += 1
        tracer.enabled = False
        steal1 = cpu_jiffies()
        log(f"timed window: {len(passes)} passes of "
            f"{', '.join(f'{sum(o.dur for o in p.ops):.2f}' for p in passes)}s")

        # -- outside the timed window: correctness and the host control
        # the host control: DuckDB on the batch-fresh queries' oracle SQL,
        # in this process, on this run's inputs (recorded, never gated)
        oracle = Oracle(in_dir, work)
        control_s = oracle.run(BATCH_QUERIES)
        all_ops = [o for p in (*warm, *passes) for o in p.ops]
        wl.check(all_ops, oracle)
        peak_mb = sampler.stop()
        log("checks done")
    finally:
        stop_engine(spark)
        sampler.stop()

    def spans_of(p: Pass):
        return tracer.spans_between(*p.spans)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "settings": {**settings, "run_seconds": args.seconds,
                     "passes": len(passes), "inputs": wl.sizes()},
    }
    if args.trace:
        # batch-fresh re-runs every stage: each timed execution of a fresh
        # query must run as many action stages as its first execution did.
        # Construction stages are reported beside them; the first
        # construction in a process may also fill process-level caches.
        first = {
            o.query: M.op_stages(spans_of(warm[0]), o) for o in warm[0].ops if o.kind == "fresh"
        }
        report["fresh_stages"] = {q: [n] for q, n in first.items()}
        for p in (p for p in passes if p.traced):
            for o in (o for o in p.ops if o.kind == "fresh"):
                n = M.op_stages(spans_of(p), o)
                report["fresh_stages"][o.query].append(n)
                if n[1] != first[o.query][1]:
                    o.ok = False
                    o.error = f"{o.query}: action ran {n[1]} stages, first run {first[o.query][1]}"
        report["layers"] = M.layers(passes, spans_of, start_s, control_s)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.dump(os.path.join(
            ROOT, ".perfbench_out", f"spans-{args.workload}-s{args.seed}.jsonl"))
    report["metrics"] = M.end_to_end(wl, passes, all_ops, setup_s, peak_mb)
    report["metrics"]["host.duckdb_control_s"] = control_s
    report["metrics"]["host.steal_frac"] = (steal1[0] - steal0[0]) / max(
        1, steal1[1] - steal0[1]
    )
    failed = [o for o in all_ops if not o.ok]
    report["errors"] = sorted({o.error for o in failed})[:10]
    result = {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
    }
    return report, result


def contract_metrics(report: dict, trace: int) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    source = report["layers"] if trace else report["metrics"]
    out = {}
    for m in wanted:
        value = source.get(m["name"])
        if value is None:
            raise RuntimeError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": value, "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "symat_hbase_tools_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "sf_sweep.py")
    ):
        die(f"the engine package is not in {ROOT}: run from a full checkout")
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    settings = host_settings()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    cwd = os.getcwd()
    bootstrap_env(work, settings)
    try:
        report, result = run(args, settings, work)
        result["metrics"] = contract_metrics(report, args.trace)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"report": report}, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
