"""CPU and resident memory of a process tree, read from ``/proc``.

The benchmark process is the root: the Spark JVM is its child and the
Python workers are the JVM's children, so the tree covers all three. A
process's ``cutime``/``cstime`` hold the CPU of children it has already
reaped, so summing all four fields over the live tree counts exited
workers once and live ones once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_stats(root: int) -> list[list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of ``root``
    and all its descendants."""
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                stats[int(entry)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of the tree, reaped children included."""
    # fields after the name: utime=11 stime=12 cutime=13 cstime=14
    return sum(
        sum(int(f[i]) for i in (11, 12, 13, 14)) for f in tree_stats(root)
    ) / _TICK


def host_jiffies() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from
    ``/proc/stat``: the ticks the hypervisor gave to other guests, and
    all ticks. Their differences over a pass give its steal share."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user and nice
    return ticks[7], sum(ticks[:8])


def rss_mb(root: int) -> float:
    """Resident memory of the tree in MB."""
    return sum(int(f[21]) for f in tree_stats(root)) * _PAGE / 1e6


class PeakRss:
    """Samples the tree's resident memory on a thread and keeps the peak.
    Use as a context manager; read ``peak_mb`` after it exits."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self._root = root
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_mb = 0.0

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb(self._root))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb(self._root))
