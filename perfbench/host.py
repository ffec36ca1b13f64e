"""Host context printed with every run (never gated on) and the Python
worker memory sampler behind ``worker_peak_rss_mb``."""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def cores() -> int:
    """Cores this process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def memcpy_gbps(mb: int = 64, reps: int = 5) -> float:
    """Best-of-``reps`` copy bandwidth of one ``mb`` MB buffer (GB/s read+write
    counted once). A DRAM-throttled host shows up here before it shows up in
    the operation rates."""
    src = np.ones(mb << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t)
    return round(src.nbytes / best / 1e9, 3)


def cpu_ticks() -> "list[int]":
    """Aggregate ``cpu`` line of /proc/stat (user nice system idle iowait irq
    softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: "list[int]", after: "list[int]") -> float:
    """Share of all CPU ticks between two ``cpu_ticks`` samples that the
    hypervisor stole."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return round(d[7] / total, 4) if total > 0 else 0.0


def _children() -> "dict[int, list[int]]":
    kids: "dict[int, list[int]]" = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> "list[int]":
    kids = _children()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class WorkerPeakRss:
    """Polls /proc for the Python workers this process's Spark JVM forks and
    keeps the highest ``VmHWM`` seen. VmHWM is a per-process high-water
    mark, so a poll every ``interval`` seconds misses only growth in a
    worker's last interval before it exits."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "WorkerPeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop polling; the peak in MB (10^6 bytes)."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb * 1024 / 1e6

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                # forked workers keep the daemon's command line; the JVM's
                # own command line also names pyspark, so match the module
                if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                    continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb,
                                               int(line.split()[1]))
                            break
            except OSError:
                continue

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()
