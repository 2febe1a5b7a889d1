"""CPU time and resident memory of a process tree, read from ``/proc``.

A background thread samples every process descended from the benchmark's
own process (driver Python, the JVM, Spark's Python daemon and workers).
CPU is ``utime + stime`` summed over the tree; a process that exits between
two samples loses at most one sampling interval of CPU.  Children's
``cutime`` is not added, because a reaped worker's time would then count
twice.  Memory is the tree's summed PSS (``smaps_rollup``): Python workers
are forked from one daemon and share pages copy-on-write, which summed RSS
would count once per worker.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: str) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds, rss bytes) of *pid*, or None if it has exited."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    f = raw[raw.rindex(")") + 2:].split()
    return int(f[1]), (int(f[11]) + int(f[12])) / _TICK, int(f[21]) * _PAGE


def _pss(pid: int, rss: int) -> int:
    """Proportional set size in bytes; RSS if smaps_rollup is unreadable."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


def tree_stats(root: int) -> dict[int, tuple[float, int]]:
    """pid → (cpu seconds, PSS bytes) for *root* and all its descendants."""
    stats: dict[int, tuple[int, float, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _read_stat(name)
            if s is not None:
                stats[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[float, int]] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            _, cpu, rss = stats[pid]
            out[pid] = (cpu, _pss(pid, rss))
            stack.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Samples the tree of *root* every *interval* seconds between
    ``start()`` and ``stop()``; ``cpu_s`` covers that window, and
    ``peak_rss_bytes`` (summed PSS) the window since the last
    ``take_peak()``."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self._base: dict[int, float] = {}
        self._last: dict[int, float] = {}
        self.peak_rss_bytes = 0

    def _sample(self) -> None:
        snap = tree_stats(self.root)
        with self._lock:
            for pid, (cpu, _) in snap.items():
                self._last[pid] = cpu
            self.peak_rss_bytes = max(self.peak_rss_bytes,
                                      sum(rss for _, rss in snap.values()))

    def take_peak(self) -> int:
        """Peak summed PSS since ``start()`` or the last ``take_peak()``,
        sampled now; starts the next peak window."""
        self._sample()
        with self._lock:
            peak, self.peak_rss_bytes = self.peak_rss_bytes, 0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "TreeSampler":
        self._base = {pid: cpu for pid, (cpu, _) in
                      tree_stats(self.root).items()}
        self._last = dict(self._base)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def cpu_s(self) -> float:
        with self._lock:
            return sum(cpu - self._base.get(pid, 0.0)
                       for pid, cpu in self._last.items())
