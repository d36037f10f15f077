"""CPU time and resident memory of the Spark JVM and its Python workers,
read from /proc (no psutil).

The JVM that PySpark launches is the root; the Python daemon and the
workers it forks are its descendants. A process that exits and is
reaped moves its CPU time into its parent's cutime/cstime, so summing
utime+stime+cutime+cstime over the live tree is monotone across worker
restarts.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
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
        todo += children.get(pid, [])
    return out


def cpu_seconds(root: int) -> float:
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:  # fields 14-17: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS every ``period`` seconds on a thread;
    ``stop()`` returns the peak in bytes."""

    def __init__(self, root: int, period: float = 0.05):
        self.root, self.period = root, period
        self.peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes(self.root))
            if self._done.wait(self.period):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._done.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes(self.root))
        return self.peak
