"""Spans, Spark counters and the benchmark's own arithmetic.

Spans are recorded from the benchmark's side of each call into the
engine (no engine file is instrumented). Counters come from the Spark
status store: each traced operation runs under its own job group, and
the group's jobs are resolved to stages with ``lastStageAttempt``.
"""

from __future__ import annotations

import math
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: Physical operators that run Python (Arrow or pickled-row workers).
PYTHON_OPS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF",
)


def valid_metric_name(name: str) -> bool:
    return len(name) <= 64 and METRIC_NAME.fullmatch(name) is not None


def median(values: list[float]) -> float:
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest of p99/p95/p90/p75/p50 that leaves at least ten
    samples above its nearest-rank position, as ``(p, value)``; None
    when fewer than 20 samples exist."""
    s = sorted(values)
    for p in (99, 95, 90, 75, 50):
        rank = math.ceil(p * len(s) / 100)
        if rank >= 1 and len(s) - rank >= 10:
            return p, s[rank - 1]
    return None


def idle_share(run_ms: float, wall_s: float, cores: int) -> float:
    """Share of the cores' wall-clock capacity no task was running."""
    return 1.0 - run_ms / (wall_s * 1000.0 * cores)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


@dataclass
class Span:
    id: int
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span log; written out once, when the run ends."""

    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str, parent: int | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sp = Span(len(self.spans), name, op, time.perf_counter(), parent=parent)
            self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def self_seconds(self, span: Span) -> float:
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return span.seconds - covered(kids, span.start, span.end)

    def as_dicts(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "op": s.op,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "self_s": self.self_seconds(s),
            }
            for s in self.spans
        ]


COUNTER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "shuffle_read",
    "shuffle_write",
    "spill",
)


def set_group(sc, group: str | None) -> None:
    """Tag the calling thread's jobs (pinned-thread mode keeps one JVM
    thread per Python thread, so pool threads tag independently)."""
    sc.setLocalProperty("spark.jobGroup.id", group)


def group_counters(sc, group: str) -> dict[str, float]:
    """Jobs, completed stages, tasks and executor/shuffle totals of one
    job group. Skipped stages are not counted."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTER_KEYS, 0.0)
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else []:
            try:
                sd = store.lastStageAttempt(stage)
            except Exception:  # evicted or never submitted
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["run_ms"] += sd.executorRunTime()
            out["cpu_ms"] += sd.executorCpuTime() / 1e6
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_read"] += sd.shuffleReadBytes()
            out["shuffle_write"] += sd.shuffleWriteBytes()
            out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def cache_state(sc) -> tuple[int, int]:
    """(cached frames, bytes in memory and on disk) of the session."""
    infos = [i for i in sc._jsc.sc().getRDDStorageInfo() if i.numCachedPartitions() > 0]
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


def plan_counts(spark, df) -> tuple[float, int, int]:
    """Catalyst planning seconds of ``df`` plus the Exchange and
    Python-evaluation operator counts of its physical plan."""
    from csv_to_parquet_spark.plans.inspect import n_ops

    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.executedPlan()
    plan_s = time.perf_counter() - t0
    text = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    return plan_s, n_ops(text, "Exchange"), sum(n_ops(text, op) for op in PYTHON_OPS)


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set size of the Spark JVM (Linux /proc)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


#: HotSpot's JIT compiler threads, by the name /proc gives them (cut to
#: 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _proc_stat(path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a /proc stat file, or None once
    the process or thread has ended."""
    try:
        with open(path) as f:
            data = f.read()
    except OSError:
        return None
    # the name is parenthesised and may itself hold spaces or parentheses
    return data[data.index("(") + 1 : data.rindex(")")], data[data.rindex(")") + 1 :].split()


@dataclass
class CpuSnapshot:
    #: CPU seconds of the process tree so far
    tree: float
    #: CPU seconds so far of each JIT compiler thread in the tree, by thread id
    jit: dict[int, float]


def cpu_snapshot(pid: int | None = None) -> CpuSnapshot:
    """User plus system CPU of ``pid`` (default: this process) and every
    live descendant, each with its reaped children (Linux /proc). The
    Spark JVM and its Python workers descend from the benchmark
    process. Time the hypervisor steals from the guest is charged to no
    process, and neither is time spent waiting for a core."""
    root = os.getpid() if pid is None else pid
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        st = _proc_stat(f"/proc/{entry}/stat") if entry.isdigit() else None
        if st:
            parent[int(entry)] = int(st[1][1])
            ticks[int(entry)] = sum(int(x) for x in st[1][11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for p, pp in parent.items():
        children.setdefault(pp, []).append(p)
    hz = os.sysconf("SC_CLK_TCK")
    tree, jit, todo = 0, {}, [root]
    while todo:
        p = todo.pop()
        tree += ticks.get(p, 0)
        todo += children.get(p, [])
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            st = _proc_stat(f"/proc/{p}/task/{tid}/stat")
            if st and st[0].startswith(JIT_THREADS):
                jit[int(tid)] = (int(st[1][11]) + int(st[1][12])) / hz
    return CpuSnapshot(tree / hz, jit)


def work_cpu_seconds(a: CpuSnapshot, b: CpuSnapshot) -> tuple[float, float]:
    """(CPU seconds from ``a`` to ``b`` less JIT compilation, JIT
    compilation seconds). How much the JIT compiles in a pass depends
    on the moment its counters trip and on the compile queue, so it
    swings from run to run far more than the work itself. A compiler
    thread that ends in between leaves its last share in the first
    figure."""
    jit = sum(v - a.jit.get(t, 0.0) for t, v in b.jit.items())
    return b.tree - a.tree - jit, jit
