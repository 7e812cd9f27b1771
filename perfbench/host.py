"""Host self-qualification and memory sampling, read from /proc.

Nothing here imports the program. ``probe_ms`` times a fixed pure-Python
loop, so a slow-host episode shows in the run's artifact next to the
numbers it slowed; no metric is ever scaled by it.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def load1() -> float:
    return os.getloadavg()[0]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def probe_ms() -> float:
    """Wall time of a fixed pure-Python loop (8-12 ms on a 4-vCPU cloud VM)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(100_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


def process_children() -> dict[int, list[int]]:
    """Map of parent pid -> child pids, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the driver
    Python process, the JVM it launched and the Python workers)."""
    kids = process_children()
    total = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
        todo.extend(kids.get(pid, ()))
    return total / (1024.0 * 1024.0)


class RssSampler:
    """Background thread sampling the process tree's RSS while ``active``
    is set; ``peak_mb`` is the maximum seen. Use as a context manager so
    the thread always ends."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self.active.is_set():
                self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class HostLog:
    """Host readings for one run: load before/after, cores, free memory,
    and probe timings taken between samples."""

    def __init__(self) -> None:
        self.load1_before = load1()
        self.load1_after: float | None = None
        self.nproc = nproc()
        self.mem_available_mb = mem_available_mb()
        self.probes: list[float] = []

    def probe(self) -> None:
        self.probes.append(probe_ms())

    def close(self) -> None:
        self.load1_after = load1()

    def as_dict(self) -> dict:
        return {
            "load1_before": self.load1_before,
            "load1_after": self.load1_after,
            "nproc": self.nproc,
            "mem_available_mb": round(self.mem_available_mb, 1),
            "probe_ms_median": statistics.median(self.probes) if self.probes else None,
            "probe_ms_max": max(self.probes) if self.probes else None,
            "probes": len(self.probes),
        }
