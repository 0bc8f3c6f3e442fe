"""CPU time and resident memory of this process tree, read from /proc.

The tree is this Python process, the Spark JVM it launched and the
Python workers the JVM forks. CPU time counts each live process's own
time plus what it has reaped from exited children, so workers that end
between samples are not lost.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, cpu seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return int(fields[1]), (utime + stime + cutime + cstime) / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree() -> dict[int, float]:
    """{pid: cpu seconds} for this process and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    root = os.getpid()
    members = {root}
    frontier = [root]
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        for child in children.get(frontier.pop(), ()):
            if child not in members:
                members.add(child)
                frontier.append(child)
    return {pid: stats[pid][1] for pid in members if pid in stats}


def cpu_seconds() -> float:
    return sum(tree().values())


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host: steal is time a hypervisor
    gave the CPUs to other guests, a source of noise between runs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class PeakRss:
    """One sampler thread that records the peak summed RSS of the tree
    while ``active``. It samples every 50 ms and re-lists the tree once
    a second, so a sample is a few small reads."""

    INTERVAL_S = 0.05
    RESCAN = 20

    def __init__(self):
        self.active = False
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        pids: list[int] = []
        n = 0
        while not self._stop.wait(self.INTERVAL_S):
            if self.active:
                if n % self.RESCAN == 0:
                    pids = list(tree())
                n += 1
                self._peak = max(self._peak, sum(_rss_bytes(pid) for pid in pids))

    @property
    def peak_mb(self) -> float:
        return self._peak / 2**20
