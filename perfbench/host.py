"""Host facts read from ``/proc``: cores, memory, load, steal, and the
CPU time and resident memory of this process's descendants (the Spark
driver JVM, the pyspark daemon and its Python workers).

Python-worker CPU is invisible to Spark's stage metrics, so it can only
be counted here.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_jiffies() -> list[int]:
    """user nice system idle iowait irq softirq steal, summed over CPUs."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return 100.0 * d[7] / total if total else 0.0


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None when
    the process has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def cpu_seconds() -> dict[str, float]:
    """CPU seconds used so far by this process's JVM and Python-worker
    descendants. Python CPU includes reaped children (cutime/cstime), so
    workers that exited between two readings still count."""
    jvm = py = 0.0
    for pid in descendants(os.getpid()):
        st = _stat(pid)
        if st is None:
            continue
        own = (int(st[11]) + int(st[12])) / _TICK
        if _comm(pid).startswith("python"):
            py += own + (int(st[13]) + int(st[14])) / _TICK
        else:
            jvm += own
    return {"jvm": jvm, "python": py}


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared with other processes count
    as a share. Falls back to RSS where smaps_rollup is missing."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return _rss_bytes(pid)


def rss_mb() -> float:
    """Resident memory of the driver JVM (this process's java child)
    plus the proportional set size of the Python workers below it: the
    daemon forks its workers, and their copy-on-write pages count once.
    Other descendants are left out: a helper the JVM spawns shares the
    JVM's pages until it execs, and counting it would count the JVM
    twice."""
    me = os.getpid()
    total = 0
    for pid in descendants(me):
        comm = _comm(pid)
        st = _stat(pid)
        if st is None:
            continue
        if comm.startswith("python"):
            total += _pss_bytes(pid)
        elif comm == "java" and int(st[1]) == me:
            total += _rss_bytes(pid)
    return total / 2**20


class PeakRss:
    """Samples :func:`rss_mb` on a thread while in a ``with`` block and
    keeps the peak since the last :meth:`lap`."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        mb = rss_mb()
        with self._lock:
            self.peak = max(self.peak, mb)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def lap(self) -> float:
        """The peak since the last lap; the next lap starts now."""
        self._sample()
        with self._lock:
            peak, self.peak = self.peak, 0.0
        return peak

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
