"""Process-tree readings from /proc: resident memory and CPU time.

The tree is this process and all its descendants: the driver's Python, the JVM
that PySpark launches, and the Python workers the JVM forks.  psutil is not
installed, so everything is read from /proc/<pid>/stat.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stats() -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the command name."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we listed
            continue
        out[int(name)] = raw[raw.rindex(")") + 2 :].split()
    return out


def _tree(root: int | None) -> list[tuple[int, list[str]]]:
    """(pid, stat fields) of root and every process below it."""
    root = os.getpid() if root is None else root
    stats = _read_stats()
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    found, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            found.append((pid, stats[pid]))
            todo.extend(kids.get(pid, []))
    return found


def descendants(root: int | None = None) -> list[int]:
    """root and every process below it."""
    return [pid for pid, _ in _tree(root)]


def tree_usage(root: int | None = None) -> tuple[int, float]:
    """(resident bytes, CPU seconds) summed over the process tree.

    CPU counts each process's own user+system time plus that of its reaped
    children, so work done by a Python worker that has exited stays counted in
    its parent."""
    tree = dict(_tree(root))
    ticks = sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f in tree.values())
    pages = sum(int(f[21]) for f in tree.values() if not _shares_parent_memory(f, tree))
    return pages * _PAGE, ticks / _CLK_TCK


def _shares_parent_memory(f: list[str], tree: dict[int, list[str]]) -> bool:
    """True for a child spawned with the parent's address space that has not
    exec'd yet (how the JVM starts processes): same size, same resident pages.
    Counting it would add the whole JVM a second time."""
    parent = tree.get(int(f[1]))
    return parent is not None and f[20] == parent[20] and f[21] == parent[21]


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _CLK_TCK


class PeakRss:
    """Samples the tree's resident memory on a background thread; ``peak``
    is the largest sum seen."""

    def __init__(self, interval_s: float = 0.1):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        self.peak = max(self.peak, tree_usage()[0])

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)
