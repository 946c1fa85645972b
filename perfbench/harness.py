"""Shared machinery of the benchmark: spans, host controls, process-tree
accounting, JVM-side counters and the summary statistics.

Nothing here imports Spark at module load; the JVM helpers take the live
SparkContext as an argument.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    op: int | None
    parent: int | None


@dataclass
class Tracer:
    """In-memory span recorder. Disabled, ``span`` is a bare context
    manager and nothing is stored, so an untraced run pays nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, op, parent))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def record(self, name: str, start: float, end: float, op: int | None,
               parent: int | None) -> None:
        """Add a span measured elsewhere (the JVM job window of a collect)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, op, parent))

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def merge_intervals(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Union of possibly overlapping intervals, as disjoint sorted ones."""
    out: list[tuple[float, float]] = []
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if out and lo <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    return sum(hi - lo for lo, hi in merge_intervals(intervals))


def _children(spans: list[Span]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids[s.parent].append(i)
    return kids


def _covered(spans: list[Span], idx: int, kids: list[int]) -> float:
    s = spans[idx]
    return union_length(
        [(max(spans[k].start, s.start), min(spans[k].end, s.end)) for k in kids]
    )


def self_times(spans: list[Span], ops: set[int] | None = None) -> dict[str, float]:
    """Seconds per span name: each span's duration minus the part of its
    interval that its child spans cover. ``ops`` limits it to those ops."""
    kids = _children(spans)
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if ops is None or s.op in ops:
            out[s.name] += (s.end - s.start) - _covered(spans, i, kids[i])
    return dict(out)


def op_coverage(spans: list[Span], ops: set[int] | None = None) -> list[float]:
    """For every op span, the share of its wall time its child spans cover."""
    kids = _children(spans)
    return [
        _covered(spans, i, kids[i]) / (s.end - s.start)
        for i, s in enumerate(spans)
        if s.name == "op" and s.end > s.start and (ops is None or s.op in ops)
    ]


@dataclass
class OpRecord:
    op: int
    name: str
    phase: str  # setup<k>, window or final
    latency_s: float
    ok: bool
    rows: int = 0
    counters: dict = field(default_factory=dict)


@dataclass
class RunData:
    """What a workload hands back for the metrics."""

    setup_s: list[float] = field(default_factory=list)
    records: list[OpRecord] = field(default_factory=list)
    window_s: float = 0.0
    window_cpu_s: float = 0.0
    store: dict = field(default_factory=dict)


# --------------------------------------------------------------------------
# host controls and process-tree accounting


def calib_ms() -> float:
    """A fixed pure-Python loop; its time tracks the host's speed phase.
    Recorded with every run, never used to drop, rescale or repeat one."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1000.0


def cpu_times() -> tuple[int, int]:
    """(steal ticks, all ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted inside user/nice
    return steal, sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for live processes."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2:].split()
        # fields after the command: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14), counted from state at index 0
        cpu = sum(int(x) for x in rest[11:15]) / _TICK
        out[int(d)] = (int(rest[1]), cpu)
    return out


def process_tree(root: int | None = None, table: dict | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in table.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of this process and every live descendant (Spark's JVM
    and its Python workers)."""
    table = _proc_table()
    return sum(table[p][1] for p in process_tree(root, table) if p in table)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the given processes' peak resident sets (VmHWM)."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def dir_bytes(path: str, since: float = 0.0) -> int:
    """Bytes of the files under ``path``; with ``since``, only of those
    last modified at or after that epoch time (a rewrite in place counts
    in full)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except OSError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total


# --------------------------------------------------------------------------
# JVM-side counters (traced runs only)


def drain_listener_bus(sc) -> None:
    """Job/stage/task counts reach the status store through the async
    listener bus; wait for it so counts read right after an action are
    complete."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def job_group_counts(sc, group: str) -> dict:
    """Jobs, executed stages and completed tasks of one job group, plus
    the [submit, complete] wall intervals (epoch seconds) of its jobs."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    intervals = []
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
        jd = store.job(jid)
        sub, comp = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and comp.isDefined():
            intervals.append((sub.get().getTime() / 1000.0,
                              comp.get().getTime() / 1000.0))
    stages = tasks = 0
    for sid in stage_ids:
        si = tracker.getStageInfo(sid)
        if si is not None and si.numCompletedTasks > 0:
            stages += 1
            tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "intervals": intervals}


def gc_ms(sc) -> int:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


def persisted_rdds(sc) -> int:
    return sc._jsc.getPersistentRDDs().size()


_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")
# SQLMetric keys summed into the per-op operator metrics
PLAN_METRICS = {
    "scan_bytes": ("filesSize",),
    "shuffle_bytes": ("dataSize",),
    "spill_bytes": ("spillSize",),
    "scan_ms": ("scanTime",),
    "agg_ms": ("aggTime",),
    "join_ms": ("buildTime",),
    "sort_ms": ("sortTime",),
}
_STAGE_WRAPPERS = ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
                   "TableCacheQueryStageExec", "ResultQueryStageExec")


def plan_metrics(jdf) -> dict[str, int]:
    """Sum SQLMetrics over the plan the last action executed, the way
    ``plans.explain.execution_profile`` walks it, but without re-running
    the query (execution_profile collects first)."""
    jplan = jdf.queryExecution().executedPlan()
    if jplan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        jplan = jplan.executedPlan()
    raw: dict[str, int] = defaultdict(int)
    todo = [jplan]
    while todo:
        node = todo.pop()
        for key, value in _METRIC.findall(node.metrics().toString()):
            raw[key] += int(value)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
        if node.getClass().getSimpleName() in _STAGE_WRAPPERS:
            todo.append(node.plan())
    return {out: sum(raw.get(k, 0) for k in keys) for out, keys in PLAN_METRICS.items()}


# --------------------------------------------------------------------------
# statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def p90_or_none(xs: list[float]) -> float | None:
    """p90 only where at least ten samples lie beyond it."""
    if len(xs) < 100:
        return None
    return statistics.quantiles(xs, n=10)[-1]
