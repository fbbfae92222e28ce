"""Summary statistics and process-memory sampling for the benchmark."""

from __future__ import annotations

import glob
import math
import os


def tail(samples: list[float]) -> tuple[int, float, int] | None:
    """The highest whole percentile that still has at least ten samples
    beyond it, as ``(percentile, value, samples_beyond)``; ``None`` when
    there are ten samples or fewer. Percentiles are nearest-rank: the
    p-th is the ``ceil(p * n / 100)``-th smallest sample."""
    n = len(samples)
    if n <= 10:
        return None
    pct = 100 * (n - 10) // n
    rank = max(1, math.ceil(pct * n / 100))
    return pct, sorted(samples)[rank - 1], n - rank


def failed_frac(attempted: int, failed: int) -> float:
    """Jobs that raised or failed their output check, per job attempted."""
    if attempted < 1:
        raise ValueError("no job attempted")
    return failed / attempted


def _children(pid: int) -> list[int]:
    """Child processes of every thread of ``pid`` (the JVM forks its
    Python workers from non-main threads)."""
    kids = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                kids.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` and of its children it has waited for."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and every process below it,
    plus this process."""
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        ticks += _cpu_ticks(pid)
        todo.extend(_children(pid))
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def host_cpu_ticks() -> list[int]:
    """The host's CPU time counters (``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time taken by the hypervisor for other
    guests between two ``host_cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


class PeakRss:
    """Peak resident memory of a process tree: the JVM and the Python
    workers it forks. Each ``sample`` records every live process's
    high-water mark (VmHWM), so workers that exit later still count."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self._hwm_kb: dict[int, int] = {}

    def sample(self) -> None:
        todo = [self.root_pid]
        while todo:
            pid = todo.pop()
            kb = _hwm_kb(pid)
            if kb:
                self._hwm_kb[pid] = max(self._hwm_kb.get(pid, 0), kb)
            todo.extend(_children(pid))

    def pids(self) -> list[int]:
        return list(self._hwm_kb)

    def mb(self) -> float:
        return sum(self._hwm_kb.values()) / 1024

