"""CPU and memory of a process tree, read from /proc.

The benchmark's process tree is the Python driver, the JVM it
launches and the Python workers the JVM forks. CPU is
utime+stime+cutime+cstime of every live process in the tree: a child
that exits and is reaped moves its time into its parent's cutime/
cstime, so the sum stays continuous across worker turnover.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # exited between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after the last
    # ')' is space-separated, starting at field 3 (state)
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """root and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """Summed user+system CPU seconds, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 (utime stime cutime cstime) -> index 11-14
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21])  # field 24: rss in pages
    return total * _PAGE / (1 << 20)


class RssPeak:
    """Samples the tree's summed RSS on a thread while active; use as
    a context manager around each timed pass."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssPeak":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
