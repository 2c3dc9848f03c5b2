"""Timing helpers: process age, percentiles, and the resident-memory
sampler."""

from __future__ import annotations

import math
import os
import threading

TAIL_BEYOND = 10
RSS_SAMPLE_S = 0.1


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat, counted after "comm"
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot over all CPUs, from
    /proc/stat: time the hypervisor gave this VM's CPUs to others."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def median(values: list[float]) -> float:
    """The 50th percentile by nearest rank, the same rule `tail` uses,
    so the tail is never below it."""
    xs = sorted(values)
    return xs[math.ceil(len(xs) / 2) - 1]


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least TAIL_BEYOND samples beyond
    it, by nearest rank: (value, percentile, sample count). With too few
    samples for any such percentile it is the maximum, reported as
    percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, n
    return xs[n - 1 - TAIL_BEYOND], 100.0 * (n - TAIL_BEYOND) / n, n


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of a process and each of its descendants (here the
    Python process, the JVM it launched, and any Python workers), keyed
    by "pid:command"."""
    kids = _children()
    out, stack = {}, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as fh:
                out[f"{pid}:{fh.read().strip()}"] = rss
        except (OSError, ValueError, IndexError):
            continue
    return out


class PeakRss:
    """Samples the process tree's resident memory every RSS_SAMPLE_S
    seconds between start() and stop(); `peak_mb` is the highest sum."""

    def __init__(self) -> None:
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_SAMPLE_S)

    def _sample(self) -> None:
        procs = tree_rss(os.getpid())
        if sum(procs.values()) > self.peak:
            self.peak, self.at_peak = sum(procs.values()), procs

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
