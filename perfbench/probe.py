"""Measurement of one block of work: wall time, process-tree CPU and
PSS from ``/proc``, and Spark task metrics from the in-process status
store.

The process tree is this Python process and every descendant: the
Spark JVM it launched, the PySpark daemon and its forked workers. CPU
is ``utime+stime+cutime+cstime`` summed over the live tree, so a worker
that exits inside the block is still counted once its parent reaps it.

Spark metrics come from ``SparkContext.statusStore()``, which the
listener fills whether or not the UI is enabled. Each measured block
runs under its own job group, so its jobs and stages are exactly those
the group lists.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional

_CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1e6


def _stat_fields(pid: int) -> Optional[List[str]]:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def tree_pids(root: Optional[int] = None) -> List[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = os.getpid() if root is None else root
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: Optional[List[int]] = None) -> float:
    """CPU seconds used so far by the process tree, reaped children included."""
    ticks = 0
    for pid in pids if pids is not None else tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14..17
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLK_TCK


def tree_pss_mb(pids: Optional[List[int]] = None) -> float:
    """Summed proportional set size of the process tree."""
    kb = 0
    for pid in pids if pids is not None else tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb * 1024 / MB


class PssSampler:
    """Background thread tracking the peak summed PSS of the tree.

    One sample walks the page tables of every process in the tree, about
    0.1 s of kernel time with a 3 GB JVM, so a short interval would load
    the machine the benchmark measures."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="pss-sampler", daemon=True)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_pss_mb())

    def reset(self) -> None:
        self.peak_mb = 0.0
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()


@dataclass
class SparkTotals:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    skew: float = 0.0  # max/median task run time in the heaviest stage


class StatusStore:
    """Per-job-group Spark metrics from the live status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def totals(self, group: str) -> SparkTotals:
        # stage and task events reach the store through the listener
        # bus; drain it so the group's last stage is complete
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = SparkTotals(jobs=len(jobs))
        heaviest = None
        for sid in sorted(stage_ids):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage never submitted
                continue
            if sd.numCompleteTasks() == 0:  # skipped: output reused
                continue
            run_ms = sd.executorRunTime()
            out.tasks += sd.numCompleteTasks()
            out.task_s += run_ms / 1000.0
            out.shuffle_mb += sd.shuffleWriteBytes() / MB
            out.spill_mb += sd.diskBytesSpilled() / MB
            if heaviest is None or run_ms > heaviest[2]:
                heaviest = (sid, sd.attemptId(), run_ms)
        if heaviest is not None:
            summary = self._store.taskSummary(heaviest[0], heaviest[1], self._quantiles)
            if summary.isDefined():
                q = summary.get().executorRunTime()
                out.skew = q.apply(1) / max(q.apply(0), 1.0)
        return out


@dataclass
class Measured:
    name: str
    wall_s: float = 0.0
    cpu_s: float = 0.0
    peak_pss_mb: float = 0.0
    spark: SparkTotals = None

    def as_span(self) -> Dict[str, float]:
        s = self.spark
        return {
            "wall_s": self.wall_s,
            "cpu_s": self.cpu_s,
            "task_s": s.task_s,
            "busy_slots": s.task_s / self.wall_s if self.wall_s > 0 else 0.0,
            "jobs": s.jobs,
            "tasks": s.tasks,
            "shuffle_mb": s.shuffle_mb,
            "spill_mb": s.spill_mb,
            "skew": s.skew,
        }


class Probe:
    """Measures blocks of work under their own Spark job groups."""

    def __init__(self, spark, sampler: PssSampler):
        self.store = StatusStore(spark)
        self.sampler = sampler
        self._seq = 0

    @contextmanager
    def measure(self, name: str) -> Iterator[Measured]:
        self._seq += 1
        group = f"{name}#{self._seq}"
        m = Measured(name)
        self.store.set_group(group)
        self.sampler.reset()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            yield m
        finally:
            m.wall_s = time.perf_counter() - t0
            m.cpu_s = tree_cpu_s() - cpu0
            self.sampler.sample()
            m.peak_pss_mb = self.sampler.peak_mb
            self.store.set_group("idle")
        m.spark = self.store.totals(group)
