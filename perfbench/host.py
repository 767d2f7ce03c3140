"""Host-side accounting from /proc: CPU and resident memory of the Spark
process tree (the JVM, its Python workers, and this driver process), plus
the hypervisor steal counter that labels each run's window.

CPU is summed per process rather than read from the host-wide busy
counters in /proc/stat, so work of unrelated processes on a shared host
never lands in the figure.
"""

from __future__ import annotations

import os
import resource
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``'s tree (reaped children
    included, via cutime/cstime) plus this driver process."""
    total = 0.0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(v) for v in fields[11:15]) / _TICK
    self_use = resource.getrusage(resource.RUSAGE_SELF)
    return total + self_use.ru_utime + self_use.ru_stime


def tree_rss_mb(root: int) -> float:
    total = 0.0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            total += int(fields[21]) * _PAGE_MB
    return total


def steal_s() -> float:
    """Cumulative hypervisor steal seconds of the host."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


class PeakRss:
    """Samples the tree's resident memory on a thread while active."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval = root, interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
