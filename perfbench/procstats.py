"""Peak resident memory of this process tree, sampled from ``/proc``.

The tree is the driver Python, the JVM it launches and the JVM's Python
worker daemon and workers. ``psutil`` is not available, so descendants are
found from the ``ppid`` field of ``/proc/<pid>/stat``.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may contain spaces/parens: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Background sampler of the summed RSS of this process tree."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        # the peak is the largest sum that held for two samples in a row:
        # a sum seen once is a transient, such as a child that shares its
        # parent's pages until it execs, and counting it made the peak
        # jump by exactly the 2 GiB heap in some runs
        pid = os.getpid()
        prev = 0
        while not self._stop.is_set():
            cur = tree_rss_bytes(pid)
            self.peak = max(self.peak, min(prev, cur))
            prev = cur
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mib(self) -> float:
        return self.peak / (1024 * 1024)


def wait_for_descendants(timeout_s: float = 30.0) -> list[int]:
    """Block until every child process of this one has exited; returns
    the pids still alive at the deadline."""
    deadline = time.time() + timeout_s
    alive = descendants(os.getpid())
    while alive and time.time() < deadline:
        try:  # reap zombies of our direct children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)
        alive = [p for p in descendants(os.getpid()) if not _zombie(p)]
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
