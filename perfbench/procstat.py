"""Process-tree and host readings from ``/proc`` (no psutil here).

The run's process tree is this Python process plus every descendant:
the Spark JVM, its Python workers, ``psql`` clients and the benchmark's
own PostgreSQL server with its backends.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field, so index 0
    is field 3 (state) of proc(5)."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we listed
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def process_cpu_s(pid: int, with_children: bool = False) -> float:
    """User+system CPU seconds of ``pid``; with its reaped children's
    time too when ``with_children``. 0 for a process that is gone."""
    try:
        f = _stat_fields(pid)
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def rss_bytes(pids: list[int]) -> int:
    """Summed RSS of ``pids``. A child that still shares its parent's
    address space (between ``vfork`` and ``exec``, as when the JVM or
    Python spawns a command) reports its parent's pages: it is counted
    once, with the parent."""
    statm: dict[int, str] = {}
    ppid: dict[int, int] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read()
            ppid[pid] = int(_stat_fields(pid)[1])
        except (OSError, ValueError, IndexError):
            statm.pop(pid, None)  # exited while we read it
    total = 0
    for pid, line in statm.items():
        if statm.get(ppid[pid]) == line:
            continue
        total += int(line.split()[1]) * _PAGE
    return total


def find_java(root: int) -> int | None:
    """The Spark driver JVM among ``root``'s descendants."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def process_start_boottime_s() -> float:
    """When this process started, in seconds since boot."""
    return int(_stat_fields(os.getpid())[19]) / _TICK


def boottime_s() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


class TreeRssSampler:
    """Samples the summed RSS of the process tree on a background
    thread; ``peak_bytes`` is the largest sum seen.

    The thread reads ``statm`` of a cached list of the tree's pids. It
    re-lists ``/proc`` itself only while ``rescan`` is set (during
    set-up, while the JVM, its workers and the server start); after
    that the owner calls ``refresh`` between ops, so the sampler never
    walks ``/proc`` while an op is timed. Processes that live only
    inside one op (a ``psql`` client and its backend) may be missed.
    """

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.rescan = True
        self.pids = tree_pids(root)
        self.series: list[tuple[float, int]] = []  # (seconds since start, bytes)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def refresh(self) -> None:
        """Re-list the tree's pids (call between ops)."""
        self.pids = tree_pids(self.root)

    def _run(self) -> None:
        t0 = time.perf_counter()
        while True:
            if self.rescan:
                self.refresh()
            rss = rss_bytes(self.pids)
            self.peak_bytes = max(self.peak_bytes, rss)
            self.series.append((round(time.perf_counter() - t0, 2), rss))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_counters() -> tuple[int, int]:
    """(all CPU ticks, steal ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def steal_fraction(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _calibration_kernel() -> int:
    # Fixed integer work: a pure-interpreter loop of 300k iterations.
    acc = 0
    for i in range(300_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return acc


def calibration_s(repeats: int = 9) -> float:
    """Median wall time of the fixed calibration kernel; a host under
    contention reads slower, so before/after ratios show a swell."""
    samples = []
    for _ in range(repeats):
        t = time.perf_counter()
        _calibration_kernel()
        samples.append(time.perf_counter() - t)
    return statistics.median(samples)
