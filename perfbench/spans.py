"""Spans, Spark counters and process-tree memory for the benchmark.

A span is one call across a layer boundary: a name (``<layer>.<call>``), a
start and end on the ``perf_counter`` clock, the id of its parent span and
the id of the request it serves. Spans are kept in memory and written out
when the run ends; a layer's self time is its spans' durations minus their
children's.

Spark's own counters are tied to spans through job groups: every traced span
runs under a job group of its own, and once the span ends the jobs of that
group are read from the application status store (stages run and skipped,
tasks, task failures, shuffle bytes, spill).
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    request: int | None
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer only yields ``None``.

    Setting ``spark`` (a SparkSession) turns on per-span Spark counters.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.request: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(self._next, name, 0.0, parent, self.request)
        self._next += 1
        self._stack.append(s)
        sc = self.spark.sparkContext if self.spark is not None else None
        group = f"perfbench-{s.id}"
        if sc is not None:
            sc.setJobGroup(group, name)
        wall0 = time.time()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                s.counters = spark_counters(sc, group, wall0)
                if self._stack:
                    sc.setJobGroup(f"perfbench-{self._stack[-1].id}", "")
                else:
                    sc._jsc.clearJobGroup()
            self.spans.append(s)

    def add_child(self, parent: Span, name: str, start: float, end: float) -> None:
        """Record a span measured from outside (e.g. from job end times)."""
        s = Span(self._next, name, start, parent.id, parent.request, end)
        self._next += 1
        self.spans.append(s)

    def spans_between(self, first: int, last: int) -> list[Span]:
        """Spans that ended between two reads of ``len(self.spans)``."""
        return self.spans[first:last]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.id):
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus its children's durations."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    return {s.id: s.dur - child[s.id] for s in spans}


def spark_counters(sc, group: str, wall0: float) -> dict:
    """Counters of the jobs the group launched, read once the listener bus
    has delivered their events."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = defaultdict(int)
    last_end_ms = 0
    counted: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        out["jobs"] += 1
        out["stages_run"] += job.numCompletedStages() + job.numFailedStages()
        out["stages_skipped"] += job.numSkippedStages()
        out["tasks"] += job.numCompletedTasks() + job.numFailedTasks()
        out["task_failures"] += job.numFailedTasks()
        if job.completionTime().isDefined():
            last_end_ms = max(last_end_ms, job.completionTime().get().getTime())
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in counted:
                continue
            counted.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            sub = st.submissionTime()
            # a reused stage ran under an earlier job: its bytes are not ours
            if not sub.isDefined() or sub.get().getTime() < wall0 * 1000 - 1:
                continue
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    if last_end_ms:
        out["last_job_end"] = last_end_ms / 1000.0
    return dict(out)


def scan_metrics(df) -> dict:
    """File-scan SQL metrics of an executed DataFrame's physical plan."""
    out = defaultdict(int)

    def walk(node):
        cls = node.getClass().getName()
        if cls.endswith("AdaptiveSparkPlanExec"):
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if "FileSourceScan" in cls:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in ("numFiles", "numOutputRows"):
                    out[kv._1()] += kv._2().value()
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return dict(out)


def storage_state(sc) -> tuple[int, int]:
    """(cached RDDs, their bytes in memory and on disk) — the engine's pins."""
    pinned = nbytes = 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        if info.isCached():
            pinned += 1
            nbytes += info.memSize() + info.diskSize()
    return pinned, nbytes


# ---------------------------------------------------------------------------
# process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(pid))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while the process exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled on a background thread."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0
