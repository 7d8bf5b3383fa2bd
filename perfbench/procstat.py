"""CPU and memory of the benchmark's process tree, read from /proc.

The tree is this process, the Spark driver JVM it launches and the Python
workers the JVM forks. CPU time of a process that exits during a
measurement moves into its parent's cutime/cstime when the parent reaps it,
so summing utime+stime+cutime+cstime over the live tree loses nothing.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    head, _, rest = raw.rpartition(")")
    return [head.partition("(")[2]] + rest.split()


def process_tree(root: int) -> dict[int, list[str]]:
    """pid → parsed stat fields for ``root`` and all its descendants.
    Field 0 is comm, field 2 the ppid, 12-15 the CPU ticks, 22 the RSS
    in pages."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[2]), []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    return sum(
        sum(int(st[i]) for i in (12, 13, 14, 15))
        for st in process_tree(root).values()
    ) / _CLK


def _python_workers(root: int) -> dict[int, list[str]]:
    """The Python processes below ``root`` (the Spark Python workers)."""
    return {
        pid: st for pid, st in process_tree(root).items()
        if pid != root and st[0].startswith("python")
    }


def python_worker_pids(root: int) -> list[int]:
    return list(_python_workers(root))


def python_workers_rss_mb(root: int) -> float:
    return sum(int(st[22]) for st in _python_workers(root).values()) * _PAGE / 2**20


class RssPeak:
    """Samples the summed worker RSS on a thread until ``stop()``; the peak
    is the largest sample."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, python_workers_rss_mb(self.root))
            if self._done.wait(self.interval_s):
                return

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join()
