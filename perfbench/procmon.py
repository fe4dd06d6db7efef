"""Peak memory of this process and all its descendants, from /proc.

The driver JVM is a child of the benchmark process and the Python workers
are the JVM's descendants, so the tree rooted at this process covers both.

Every process but the JVM is measured as its anonymous and shared-memory
PSS (``Pss_Anon + Pss_Shmem``), not RSS: the JVM launches processes by
forking, the Python daemon forks its workers, and summed RSS counts every
copy-on-write page once per process sharing it (a transient fork child of
the JVM alone added ~0.9 GB of phantom RSS to single samples). File-backed
pages are left out: their PSS is split with any unrelated process that maps
the same libraries, so it moves with what else runs on the machine.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_CLK_TCK = os.sysconf("SC_CLK_TCK")

def _proc_table() -> tuple[dict[int, list[int]], dict[int, tuple[str, float]]]:
    """Children of every pid, and each pid's (command name, CPU seconds
    including its reaped children)."""
    kids: dict[int, list[int]] = {}
    procs: dict[int, tuple[str, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        # the command name may hold spaces and parens: split after the last ')'
        close = stat.rindex(")")
        fields = stat[close + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
        cpu = sum(int(x) for x in fields[11:15]) / _CLK_TCK  # utime stime cutime cstime
        procs[int(d)] = (stat[stat.index("(") + 1 : close], cpu)
    return kids, procs


def _rss_bytes(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, ValueError):
        return None


_PRIVATE_PSS = ("Pss_Anon:", "Pss_Shmem:")


def _pss_bytes(pid: int) -> int | None:
    """Anonymous plus shared-memory PSS: split only among the processes
    that share those pages (a fork family), never with unrelated ones."""
    total, seen = 0, False
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith(_PRIVATE_PSS):
                    total += int(line.split()[1]) * 1024
                    seen = True
    except (OSError, ValueError):
        return None  # exited, or a kernel thread without an mm
    return total if seen else None


def _descendants(root: int, kids: dict[int, list[int]]):
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        yield pid


def tree_memory_bytes(root: int) -> dict[str, int]:
    """Memory of ``root`` and its descendants, summed per command name: RSS
    for the JVM (nothing shares its pages, and walking its mappings for PSS
    takes ~30 ms under its memory lock), anonymous and shared-memory PSS for
    every other process."""
    kids, procs = _proc_table()
    by_name: dict[str, int] = {}
    for pid in _descendants(root, kids):
        name = procs.get(pid, ("?", 0.0))[0]
        size = _rss_bytes(pid) if name == "java" else _pss_bytes(pid)
        if size is not None:
            by_name[name] = by_name.get(name, 0) + size
    return by_name


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds used so far by ``root``, its live descendants and the
    descendants they have reaped. The difference of two readings is the
    tree's CPU time in between, as long as no process of the tree was
    reaped by a process outside it."""
    kids, procs = _proc_table()
    return sum(procs.get(pid, ("?", 0.0))[1] for pid in _descendants(root, kids))


class PeakMemory:
    """Samples the tree's memory every ``interval`` seconds on a daemon thread
    between ``start()`` and ``stop()``. ``peak`` is the highest sum seen,
    ``python_peak`` the highest sum over the Python processes (this one and
    Spark's Python workers), ``peak_by_name`` the highest per command name
    (``java``, ``python3``, ...)."""

    interval = 0.2  # seconds

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak = 0
        self.python_peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        by_name = tree_memory_bytes(self.root)
        self.peak = max(self.peak, sum(by_name.values()))
        python = sum(v for k, v in by_name.items() if k.startswith("python"))
        self.python_peak = max(self.python_peak, python)
        for k, v in by_name.items():
            self.peak_by_name[k] = max(self.peak_by_name.get(k, 0), v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "PeakMemory":
        self._thread = threading.Thread(target=self._run, name="peak-memory", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        if not self._stop.is_set():
            self._stop.set()
            if self._thread is not None:
                self._thread.join(timeout=5)
            self._sample()
        return self.peak
