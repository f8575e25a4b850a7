"""Host and timing helpers: core count, process-tree RSS, medians and the
tail-percentile rule."""

from __future__ import annotations

import os
import statistics
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_cores() -> int:
    """Cores this process may run on (affinity-aware, never a fixed default)."""
    return len(os.sched_getaffinity(0))


def task_slots(cores: int) -> int:
    """Spark task slots for ``cores`` host cores: half of them. A Python
    stage keeps two processes busy per task (the JVM thread that feeds Arrow
    batches and the Python worker), and the JVM's planner, JIT and GC
    threads and this process need cores too; with a slot per core the
    runnable threads outnumbered the cores and a pass measured the
    scheduler (measured on 4 vCPU: local[2] passes of `extract` were 10-20%
    faster than local[4] ones and varied less)."""
    return max(1, cores // 2)


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, RSS bytes by pid) for every process in /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                statm = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # "pid (comm) state ppid ..." — comm may hold spaces and parentheses
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = int(statm.split()[1]) * _PAGE
    return children, rss


def _tree(root_pid: int, children: dict[int, list[int]]) -> list[int]:
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def descendants(root_pid: int) -> list[int]:
    children, _ = _proc_table()
    return _tree(root_pid, children)[1:]


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants."""
    children, rss = _proc_table()
    return sum(rss.get(pid, 0) for pid in _tree(root_pid, children))


class PeakRss:
    """Background sampler of the peak summed RSS of this process tree
    (this Python process, the JVM it launches and the JVM's Python workers)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) of the highest nearest-rank percentile that still
    has at least ``beyond`` samples above it; None when n <= ``beyond``.

    n=100 gives the p90 (10 samples above it), n=20 the p50, n=11 the
    minimum; fewer samples support no tail at all."""
    n = len(values)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based rank with exactly `beyond` samples above it
    return 100.0 * rank / n, sorted(values)[rank - 1]
