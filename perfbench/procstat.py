"""CPU and memory of a process tree, read from /proc.

Processes are keyed by (pid, starttime) from ``/proc/<pid>/stat``, so a
pid the kernel reuses for a new process is a new key and never inherits
another process's CPU.  Each key keeps the last CPU value seen for it;
a process that exits between two samples keeps its last reading.  A
per-rep CPU delta is therefore a sum of per-process increases, which
is never negative and never missing.

Only utime+stime are summed (never cutime/cstime): a reaped child's
CPU is already counted under its own key, so adding the parent's
cutime would count it twice.  The loss is the CPU a process burns
after its last sample, bounded by one sampling interval.

PSS comes from ``/proc/<pid>/smaps_rollup`` in the same pass, so pages
shared between the JVM and the Python workers (the mmap'd CSR, shared
libraries) count once across the tree.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[int, int, float] | None:
    """(ppid, starttime, cpu seconds) of one process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            tail = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    # fields after the comm: state ppid ... utime(11) stime(12) ... starttime(19)
    return int(tail[1]), int(tail[19]), (int(tail[11]) + int(tail[12])) / _TICK


def _read_pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def tree(root: int) -> dict[int, tuple[int, float]]:
    """{pid: (starttime, cpu_s)} for ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = {}, [root]
    while stack:
        p = stack.pop()
        if p in stats and p not in out:
            out[p] = (stats[p][1], stats[p][2])
            stack.extend(kids.get(p, []))
    return out


class TreeSampler:
    """Background sampler of one process tree's CPU and PSS.

    ``cpu_mark()`` returns an opaque mark; ``cpu_since(mark)`` is the
    tree's CPU seconds since that mark.  ``peak_pss_mb`` is the largest
    tree-wide PSS seen since ``start()``.
    """

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = root if root is not None else os.getpid()
        self.interval_s = interval_s
        self._last: dict[tuple[int, int], float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_pss_mb = 0.0
        self.samples = 0

    def sample(self) -> None:
        procs = tree(self.root)
        pss_kb = sum(_read_pss_kb(pid) for pid in procs)
        with self._lock:
            for pid, (start, cpu) in procs.items():
                key = (pid, start)
                if cpu >= self._last.get(key, 0.0):
                    self._last[key] = cpu
            self.peak_pss_mb = max(self.peak_pss_mb, pss_kb / 1024.0)
            self.samples += 1

    def cpu_mark(self) -> dict[tuple[int, int], float]:
        self.sample()
        with self._lock:
            return dict(self._last)

    def cpu_since(self, mark: dict[tuple[int, int], float]) -> float:
        now = self.cpu_mark()
        return sum(cpu - mark.get(key, 0.0) for key, cpu in now.items())

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
