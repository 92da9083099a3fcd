"""Host-side sampling from /proc: RSS and CPU of the driver + Spark JVM tree,
and the VM's cumulative steal jiffies.

Peak RSS sums the Python driver and the Spark JVM. CPU also counts every
descendant of the JVM (the PySpark worker daemon and its forked workers),
rediscovered on each sample so short-lived workers are counted while alive.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def read_steal() -> int:
    """Cumulative host-steal jiffies (field 8 of the aggregate cpu line)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime seconds) of a live process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2:].split()  # comm may contain spaces
    return int(rest[1]), (int(rest[11]) + int(rest[12])) / _TICK


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root_pids: list[int]) -> list[int]:
    """root_pids plus every descendant of the last root (the JVM)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = list(root_pids), [root_pids[-1]]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


class HostSampler:
    """Background sampler: peak driver + JVM RSS and per-pid last-seen CPU
    seconds of the whole tree.

    CPU of the tree over a window is the sum of per-pid deltas between
    `mark()` and the end of the window, so workers born inside the window
    count from zero and workers that die keep their last-seen time."""

    def __init__(self, jvm_pid: int, interval: float = 0.2) -> None:
        self.roots = [os.getpid(), jvm_pid]
        self.interval = interval
        self.peak_rss_kb = 0
        self.samples = 0
        self._cpu: dict[int, float] = {}
        self._marks: dict[str, dict[int, float]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="host-sampler", daemon=True)

    def _sample(self) -> None:
        pids = _tree(self.roots)
        rss = sum(_rss_kb(p) for p in self.roots)
        with self._lock:
            self.samples += 1
            self.peak_rss_kb = max(self.peak_rss_kb, rss)
            for p in pids:
                st = _stat(p)
                if st is not None:
                    self._cpu[p] = st[1]

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "HostSampler":
        self._sample()
        self._thread.start()
        return self

    def mark(self, name: str) -> None:
        self._sample()
        with self._lock:
            self._marks[name] = dict(self._cpu)

    def cpu_s_since(self, name: str) -> dict[str, float]:
        """CPU seconds since mark(name): driver, JVM, workers, total."""
        self._sample()
        with self._lock:
            base = self._marks[name]
            delta = {p: c - base.get(p, 0.0) for p, c in self._cpu.items()}
        driver = delta.get(self.roots[0], 0.0)
        jvm = delta.get(self.roots[1], 0.0)
        total = sum(delta.values())
        return {
            "driver_cpu_s": driver,
            "jvm_cpu_s": jvm,
            "worker_cpu_s": total - driver - jvm,
            "total_cpu_s": total,
        }

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
