"""Peak resident memory of a process tree, sampled from ``/proc``.

The tree is this process plus every descendant: the Spark JVM that
PySpark launches and the Python workers the JVM forks.  Sampling walks
``/proc/<pid>/stat`` for parent links.  The Python processes under the
JVM count their proportional set size (``Pss`` in
``/proc/<pid>/smaps_rollup``): forked workers share most of their pages
with the worker daemon, and a plain sum of RSS counted those pages once
per worker, so it moved by a third with the number of idle workers alone.
The driver and the JVM count their RSS (``/proc/<pid>/statm``), which for
them is within 1% of Pss; reading the JVM's ``smaps_rollup`` would walk
its page tables on every sample.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited, or a kernel thread
    return 0


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except OSError:
        return 0


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def tree_bytes(root: int, rss_pids: frozenset[int]) -> int:
    """Resident memory of ``root`` and its descendants: RSS for
    ``rss_pids``, Pss for every other process."""
    return sum(_rss_bytes(p) if p in rss_pids else _pss_bytes(p)
               for p in [root, *descendants(root)])


class MemSampler:
    """Background thread recording the peak memory of this process's tree
    while active; ``rss_pids`` are the processes counted by RSS.

    Use as a context manager; ``peak_bytes`` holds the highest sample."""

    def __init__(self, rss_pids: frozenset[int], interval_s: float = 0.1):
        self.interval_s = interval_s
        self.root = os.getpid()
        self.rss_pids = rss_pids | {self.root}
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_bytes(self.root, self.rss_pids))
            self.samples += 1
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
