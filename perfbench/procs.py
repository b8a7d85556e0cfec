"""CPU and memory of the program's process tree, read from /proc.

The tree is every descendant of the benchmark process: the Spark driver
JVM that pyspark launches and the Python worker daemon and workers that
the JVM forks.  The benchmark process itself is left out — it holds the
generated inputs and runs the checks, which are not the program's cost;
its own share of driver work is the main thread's CPU, added by callers
through ``time.thread_time()``.

CPU counts ``utime + stime`` of each live process plus ``cutime +
cstime``, the CPU of children it has already reaped, so a Python worker
that exits between two samples is not lost.  Processes are split into
``jvm`` (the java command) and ``python`` (everything else, i.e. the
pyspark daemon and its workers).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class TreeCpu:
    jvm_s: float
    python_s: float

    @property
    def total_s(self) -> float:
        return self.jvm_s + self.python_s

    def __sub__(self, other: "TreeCpu") -> "TreeCpu":
        return TreeCpu(self.jvm_s - other.jvm_s,
                       self.python_s - other.python_s)


def _stat(pid: int):
    """(comm, ppid, cpu ticks incl. reaped children, rss pages) or None
    when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the LAST ')'
    head, _, rest = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = rest.split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])   # utime stime cutime cstime
    rss = int(fields[21])
    return comm, ppid, ticks, rss


def descendants(root: int) -> dict:
    """pid -> (comm, ticks, rss pages) for every live descendant."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                table[int(name)] = st
    children: dict = {}
    for pid, (_comm, ppid, _t, _r) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        comm, _ppid, ticks, rss = table[pid]
        out[pid] = (comm, ticks, rss)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu(root: int | None = None) -> TreeCpu:
    jvm = py = 0
    for comm, ticks, _rss in descendants(root or os.getpid()).values():
        if comm == "java":
            jvm += ticks
        else:
            py += ticks
    return TreeCpu(jvm / _TICK, py / _TICK)


def tree_rss_mb(root: int | None = None) -> float:
    pages = sum(r for _c, _t, r in descendants(root or os.getpid()).values())
    return pages * _PAGE / (1 << 20)


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak_mb`` is the
    largest sum seen since the last ``reset``."""

    def __init__(self, period_s: float = 0.1):
        self._period = period_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0.0
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="peak-rss")

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            mb = tree_rss_mb()
            with self._lock:
                self._peak = max(self._peak, mb)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_mb()

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return max(self._peak, tree_rss_mb())


def wait_tree_gone(timeout_s: float = 30.0) -> bool:
    """Wait for every descendant to exit (kill what is left at the end);
    True when none remained."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not descendants(os.getpid()):
            return True
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    return False
