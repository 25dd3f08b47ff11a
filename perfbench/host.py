"""Host context recorded with every result, and the process-tree RSS
sampler behind ``peak_rss_gb``."""

from __future__ import annotations

import os
import subprocess
import threading
import time
from typing import Dict, List, Optional

import numpy as np

PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def bandwidth_gbps() -> float:
    """Single-threaded memcpy probe, the same method as bench.py's
    ``bandwidth_gbps``: on a shared host, co-tenant slowdowns show up as
    lost memory bandwidth, so a slow run can be told apart from slow
    code."""
    a = np.zeros(256 * 1024 * 1024 // 8)
    best = 0.0
    for _ in range(3):
        t0 = time.monotonic()
        b = a.copy()
        dt = time.monotonic() - t0
        best = max(best, 2 * a.nbytes / dt / 1e9)
        del b
    return round(best, 2)


def cpu_ticks() -> List[int]:
    """Aggregate /proc/stat cpu counters (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: List[int], after: List[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024 ** 2, 2)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def git_commit(root: str) -> Optional[str]:
    """HEAD of the checkout, or None where it is not a git work tree."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _tree_sum(root_pid: int, value) -> float:
    """``value(stat fields, pid)`` summed over ``root_pid`` and all its
    descendants: the Python driver, the driver JVM it launched and the
    JVM's Python workers."""
    children: Dict[int, List[int]] = {}
    vals: Dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            fields = stat[stat.rindex(")") + 2:].split()
            vals[int(name)] = value(fields, name)
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    total, todo = 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        total += vals.get(pid, 0.0)
        todo.extend(children.get(pid, []))
    return total


def _rss(fields: List[str], pid: str) -> float:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * PAGE


def _cpu(fields: List[str], pid: str) -> float:
    # utime, stime, cutime, cstime (fields 14-17 of /proc/<pid>/stat)
    return sum(int(x) for x in fields[11:15]) / CLK_TCK


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree."""
    return _tree_sum(os.getpid(), _cpu)


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds on a
    background thread; ``peak_gb`` is the largest sample seen."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_sum(pid, _rss))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_gb(self) -> float:
        return self.peak / 1e9
