"""Peak resident memory of a process tree, sampled from /proc.

The tree is every descendant of the benchmark process: the driver JVM that
pyspark launches and the Python daemon and workers the JVM forks. Workers
come and go during a run; each sample re-walks the tree, so a worker that
exits mid-run still counts while it was alive.
"""

from __future__ import annotations

import contextlib
import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may contain spaces: fields follow the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _statm(pid: int) -> tuple[int, int]:
    """(address-space size, resident size) in bytes; zeros once exited."""
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            size, resident = f.read().split()[:2]
        return int(size) * _PAGE, int(resident) * _PAGE
    except OSError:
        return 0, 0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds used so far by root's descendants, including children
    they have reaped (root itself excluded)."""
    kids = _children_map()
    total, stack = 0, list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
        stack.extend(kids.get(pid, []))
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    """Current summed RSS of root's descendants (root itself excluded).

    A child whose address space is the size of its parent's still shares
    the parent's pages and is not counted again. The JVM starts commands
    from its task threads through vfork: until the child execs, it reports
    the whole JVM's RSS, which would otherwise double a repetition's
    peak."""
    kids = _children_map()
    total, stack = 0, [(pid, 0) for pid in kids.get(root, [])]
    while stack:
        pid, parent_size = stack.pop()
        size, rss = _statm(pid)
        if size != parent_size:
            total += rss
        stack.extend((k, size) for k in kids.get(pid, []))
    return total


class PeakRss:
    """Samples tree_rss_bytes(root) every ``interval`` seconds on a daemon
    thread between start() and stop(), only inside ``window()`` blocks, so
    the benchmark's own checking processes are never counted. Each window
    records its own peak in ``peaks`` (bytes)."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval = root, interval
        self.peaks: list[int] = []
        self._lock = threading.Lock()
        self._active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            if self._active:
                self.peaks[-1] = max(self.peaks[-1], rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    @contextlib.contextmanager
    def window(self):
        with self._lock:
            self.peaks.append(0)
            self._active = True
        try:
            yield
        finally:
            self._sample()
            with self._lock:
                self._active = False

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
