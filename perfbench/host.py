"""Host readings taken beside every run, from ``/proc``.

``HostSampler`` samples the summed resident set size of this process and
all its descendants (the Python driver, the JVM it launched and the
Python workers the JVM forks), and reads the CPU steal and iowait shares
and the 1-minute load average over the sampled window, so a draw taken
on a contended host shows as such in the artifact.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _tree_rss_bytes(root: int) -> int:
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * _PAGE
    total = 0
    for pid, r in rss.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += r
    return total


class HostSampler:
    """Background sampler; ``start()`` then ``stop()`` returns the readings."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._cpu0: list[int] = []
        self._load0 = 0.0

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, _tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "HostSampler":
        self._cpu0 = _cpu_times()
        self._load0 = os.getloadavg()[0]
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_rss = max(self.peak_rss, _tree_rss_bytes(os.getpid()))
        d = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        total = max(sum(d), 1)
        # /proc/stat cpu fields: user nice system idle iowait irq softirq steal
        return {
            "load1_start": self._load0,
            "load1_end": os.getloadavg()[0],
            "iowait_frac": d[4] / total,
            "steal_frac": (d[7] if len(d) > 7 else 0) / total,
            "ncpu": os.cpu_count(),
            "peak_rss_mb": self.peak_rss / 2**20,
        }
