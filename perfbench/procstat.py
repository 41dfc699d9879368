"""Process-tree accounting from /proc: CPU seconds, peak RSS, host steal.

The engine runs as three kinds of process: this Python driver, the Spark
JVM it launches, and the PySpark Python workers the JVM forks.  A live
worker's CPU is in no other process's counters, so the tree is walked and
summed.  A child that has exited and been reaped has its CPU folded into
its parent's ``cutime``/``cstime``, so summing ``utime+stime+cutime+cstime``
over the live tree never loses or double-counts work between two readings.
"""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:  # fields 14-17 of stat: utime stime cutime cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _HZ


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def rss_bytes(pids: list[int]) -> dict[int, int]:
    """Resident bytes of each of ``pids`` that is still alive."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                out[pid] = int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return out


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def host_probe_s(reps: int = 3) -> float:
    """Best of ``reps`` timings of a fixed single-threaded CPU loop.  It does
    the same work on every run, so it tracks how fast the host runs this
    process: a host slowed by its other tenants shows here even when
    ``/proc/stat`` counts no steal."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc ^= i * i
        best = min(best, time.perf_counter() - t0)
    return best


class PeakRss:
    """Background sampler of the tree's summed RSS (re-walks the tree each
    second, reads RSS every ``interval`` seconds).  ``parts`` splits the
    peak sample into the driver, the JVM and the Python workers."""

    def __init__(self, root: int, interval: float = 0.05) -> None:
        self.root, self.interval = root, interval
        self.peak = 0
        self.parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, pids: list[int]) -> None:
        rss = rss_bytes(pids)
        if sum(rss.values()) > self.peak:
            self.peak = sum(rss.values())
            self.parts = {"driver": rss.get(self.root, 0), "jvm": 0, "workers": 0, "n_workers": 0}
            for pid, b in rss.items():
                if pid != self.root:
                    kind = "jvm" if _is_java(pid) else "workers"
                    self.parts[kind] += b
                    self.parts["n_workers"] += kind == "workers"

    def _run(self) -> None:
        pids, walked = tree_pids(self.root), time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - walked > 1.0:
                pids, walked = tree_pids(self.root), time.monotonic()
            self._sample(pids)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample(tree_pids(self.root))
