"""Host facts and process-tree accounting, read from ``/proc``.

The benchmark's one process hosts the Spark driver; the JVM and any
Python workers are its descendants.  CPU and RSS are summed over that
tree, so they cover the whole cost of an op wherever it ran.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")


def mem_available_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("/proc/meminfo has no MemAvailable line")


def cpu_count() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def steal_s() -> float:
    """Hypervisor steal time since boot, summed over all CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(pid: int) -> float:
    """User + system CPU of one process, with its reaped children."""
    st = _stat(pid)
    if st is None:
        return 0.0
    return sum(int(x) for x in st[11:15]) / _CLK


def tree_cpu_s(root: int) -> float:
    """CPU of ``root`` and its descendants.  A child that exits moves its
    time into its parent's reaped-children counters, so differences of
    this sum between two instants stay exact across worker churn."""
    return sum(cpu_s(p) for p in descendants(root))


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree, as the sum of proportional set sizes:
    a page shared by several processes (a forked worker, or a child the
    JVM forks to run a shell command) counts once, not once each."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total_kb / 1024


class RssSampler:
    """Samples the tree's RSS on a background thread inside its ``with``
    block and keeps the peak."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root = root
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()
