"""Spans, Spark status-store ledgers, and process-tree memory and CPU.

Spans are recorded only by the benchmark's own code, around its calls
into the package's public functions.  They are kept in memory and
written out when the run ends.  A span may carry a Spark ledger: the
calls inside it run under a job group unique to that span, so the
status store attributes exactly their jobs and stages to it (a reused
group name would make ``getJobIdsForGroup`` add up across passes).
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: stage-level counters summed per ledger, named as the per-layer metrics
STAGE_FIELDS = (
    "exec_cpu_s",
    "exec_run_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "tasks",
)


@dataclass
class Span:
    name: str
    start: float
    trace_id: int
    parent: int | None
    id: int
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` still yields a
    ``Span`` that times its block (so call sites need no branches) but
    records nothing and runs no job group."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self.trace_id = 0
        self._in_ledger = False

    def new_trace(self) -> None:
        """Start a new iteration: later spans share a fresh trace id."""
        self.trace_id += 1

    @contextmanager
    def span(self, name: str, ledger: bool = False):
        sp = Span(
            name,
            time.perf_counter(),
            self.trace_id,
            self._stack[-1].id if self._stack else None,
            next(self._ids),
        )
        if not self.enabled:
            try:
                yield sp
            finally:
                sp.end = time.perf_counter()
            return
        self._stack.append(sp)
        group = None
        if ledger:
            # job groups do not nest: a ledger span holds no other one
            if self._in_ledger:
                raise RuntimeError(f"nested ledger span {name!r}")
            self._in_ledger = True
            group = f"pb-{os.getpid()}-{sp.id}"
            self.spark.sparkContext.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.spark.sparkContext._jsc.clearJobGroup()
                self._in_ledger = False
                sp.counts.update(ledger_for_group(self.spark, group))
            self.spans.append(sp)

    def self_times(self, spans: list[Span] | None = None) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover (children never overlap: the benchmark is
        sequential within a trace)."""
        spans = self.spans if spans is None else spans
        child = {}
        for sp in spans:
            if sp.parent is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + sp.dur
        out: dict[str, float] = {}
        for sp in spans:
            out[sp.name] = out.get(sp.name, 0.0) + sp.dur - child.get(sp.id, 0.0)
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "name": sp.name,
                            "trace": sp.trace_id,
                            "id": sp.id,
                            "parent": sp.parent,
                            "start": sp.start,
                            "end": sp.end,
                            "counts": sp.counts,
                        }
                    )
                    + "\n"
                )


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def stage_totals(spark, stage_ids) -> dict[str, float]:
    """Sum the last attempt of each stage from Spark's status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tot = dict.fromkeys((*STAGE_FIELDS, "stages"), 0.0)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(int(sid))
        except Exception:  # skipped stage: never attempted, costs nothing
            continue
        tot["exec_cpu_s"] += st.executorCpuTime() / 1e9
        tot["exec_run_s"] += st.executorRunTime() / 1e3
        tot["gc_s"] += st.jvmGcTime() / 1e3
        tot["input_bytes"] += st.inputBytes()
        tot["shuffle_read_bytes"] += st.shuffleReadBytes()
        tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
        tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        tot["tasks"] += st.numCompleteTasks()
        tot["stages"] += str(st.status()) != "SKIPPED"
    return tot


def ledger_for_jobs(spark, job_ids) -> dict[str, float]:
    tracker = spark.sparkContext.statusTracker()
    stages: list[int] = []
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.extend(info.stageIds)
    out = stage_totals(spark, stages)
    out["jobs"] = len(job_ids)
    return out


def ledger_for_group(spark, group: str) -> dict[str, float]:
    return ledger_for_jobs(
        spark, spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    )


def storage_mem_bytes(spark) -> int:
    """Block-manager storage memory still held across executors."""
    store = spark.sparkContext._jsc.sc().statusStore()
    return sum(e.memoryUsed() for e in _seq(store.executorList(True)))


def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants (from /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds used so far by a process tree (this process by
    default): user + system time of every live process, plus that of
    the children each has reaped (exited Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rfind(")") + 2 :].split()
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process has exited
        pass
    return 0


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants, summed as
    PSS: pages shared between processes (the Python workers are forks of
    one daemon) count once, not once per process."""
    return sum(_pss_bytes(pid) for pid in _tree(root_pid))


class RssSampler:
    """Background sampler of the peak RSS of this process tree (the
    driver's Python, its JVM and the JVM's Python workers)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
