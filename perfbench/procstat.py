"""Process-tree accounting read from ``/proc``: CPU seconds, resident
memory and bytes on disk.

CPU is summed over the benchmark process and every descendant (the JVM
launched by PySpark and the Python workers it forks).  Each process
contributes its own time plus ``cutime``/``cstime``, the time of children
it has already reaped, so a Python worker that exits mid-op still counts:
its time moves into its parent's counters instead of disappearing.  A sum
over live processes alone can go backwards across an op.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; everything after the last ')' is fixed
    head, _, tail = raw.rpartition(")")
    return [head.split("(", 1)[1]] + tail.split()


def process_tree(root: int | None = None) -> dict[int, list[str]]:
    """pid -> parsed stat fields for ``root`` and all its descendants.
    Field 0 is comm; field i >= 1 is stat field i + 2 (state, ppid, ...)."""
    root = os.getpid() if root is None else root
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        stats[int(name)] = st
        children.setdefault(int(st[2]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def _cpu_ticks(st: list[str]) -> int:
    # utime, stime, cutime, cstime = stat fields 14..17
    return sum(int(x) for x in st[12:16])


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process tree, reaped children
    included."""
    return sum(_cpu_ticks(st) for st in process_tree().values()) / _CLK_TCK


def _pss_bytes(pid: int) -> int:
    """Proportional resident memory: each resident page divided by the
    number of processes that map it."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes() -> int:
    """Resident memory of the process tree, as the sum of the processes'
    proportional resident memory.  A plain RSS sum counts a page twice
    when two processes share it, and the JVM forks short-lived helper
    processes that share its whole heap until they exec: a sample taken
    at that moment counted the heap twice."""
    total = 0
    for pid in process_tree():
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the tree's total resident memory (see
    ``tree_rss_bytes``); ``peak`` is the largest sum seen.  Reads
    ``/proc`` only, never Spark."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (0 if missing)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                continue
    return total
