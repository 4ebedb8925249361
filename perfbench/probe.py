"""Readers for the numbers the benchmark records besides wall time: the
host (/proc), the process tree's memory high-water mark, and Spark's own
bookkeeping (job groups, the app status store, JVM GC and RDD storage).

Everything here reads state from outside the program; nothing calls into
``workbench_spark``.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field, so that
    index 0 is the state and index 1 the parent pid."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    return raw[raw.rindex(")") + 2:].split()


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields("self")[19]) / _TICK


def host_steal_s() -> float:
    """Cumulative steal time of the whole host, in seconds."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


def python_loop_s() -> float:
    """Seconds for a fixed single-threaded Python loop: the host's speed
    at this moment, to explain a whole-run offset."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * 31) ^ (i >> 3)
    return time.perf_counter() - t0


def load_average() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(entry)[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every descendant,
    reaped children included. The kernel charges stolen time (a vCPU
    descheduled by the host) to steal, not to the process, so this
    counts the work done, not how long a contended host took to do it."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            f = _stat_fields(pid)
        except (OSError, ValueError):
            continue  # ended since the listing
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux), so
    Python workers whose JVM has exited are re-parented here and can be
    waited for instead of outliving the run."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 15.0, limit_s: float = 45.0) -> list[int]:
    """Terminate every descendant of this process and wait until each has
    ended: SIGTERM first, SIGKILL after ``grace_s``. Returns the pids still
    there after ``limit_s`` (empty when the tree is gone)."""
    t0 = time.monotonic()
    signalled: dict[int, int] = {}
    while True:
        _reap()
        left = _descendants(os.getpid())[1:]
        if not left:
            return []
        waited = time.monotonic() - t0
        if waited > limit_s:
            return left
        sig = signal.SIGKILL if waited > grace_s else signal.SIGTERM
        for pid in left:
            if signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled[pid] = sig
        time.sleep(0.05)


class RssWatch:
    """High-water RSS of this process plus every descendant (the JVM and
    the Python workers). Each pid's ``VmHWM`` only grows, so sampling
    after every operation and keeping the largest value per pid misses
    only processes that both start and exit within one operation."""

    def __init__(self) -> None:
        self._hwm: dict[int, int] = {}

    def sample(self) -> None:
        for pid in _descendants(os.getpid()):
            kb = _hwm_kb(pid)
            if kb > self._hwm.get(pid, 0):
                self._hwm[pid] = kb

    def peak_mb(self) -> float:
        self.sample()
        return sum(self._hwm.values()) / 1024.0


class SparkProbe:
    """Per-job-group scheduler and executor numbers from the status
    tracker and the app status store (both populated with the UI off)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)

    def job_count(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def group_stats(self, group: str) -> dict:
        """Totals over every job of ``group`` plus the stages' busy
        intervals (epoch ms), for the idle-time computation."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "task_run_s": 0.0,
            "task_cpu_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "intervals": [],
        }
        empty = self.jvm.java.util.ArrayList()
        for s in stage_ids:
            try:
                attempts = self._store.stageData(s, False, empty, False, self._no_quantiles)
            except Exception:  # evicted from the store or never submitted
                continue
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if not sd.submissionTime().isDefined():
                    continue  # skipped stage: its output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
                start = sd.submissionTime().get().getTime()
                end = (
                    sd.completionTime().get().getTime()
                    if sd.completionTime().isDefined() else start
                )
                out["intervals"].append((start, end))
        return out

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3

    def retained_rdd_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def versions(self) -> dict:
        return {
            "spark": self.sc.version,
            "java": self.jvm.System.getProperty("java.version"),
        }


def covered_s(intervals: list[tuple[int, int]], t0_ms: float, t1_ms: float) -> float:
    """Seconds of [t0, t1] covered by the union of the given intervals."""
    spans = sorted(
        (max(a, t0_ms), min(b, t1_ms)) for a, b in intervals if b > t0_ms and a < t1_ms
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3
