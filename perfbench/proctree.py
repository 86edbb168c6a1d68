"""Resident memory and CPU time of a process tree, read from /proc.

The tree is every process in the session the benchmark started the
worker in (the worker calls no ``setsid`` itself, and neither do the JVM
or PySpark's Python workers), so children that outlive their parent or
get re-parented are still counted.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def _session_stats(sid: int) -> dict[int, list[bytes]]:
    """``{pid: stat fields after the comm field}`` for every process of
    the session: state ppid pgrp session ... utime stime cutime cstime ..."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:  # exited between listdir and open
            continue
        if int(fields[3]) == sid:
            out[int(name)] = fields
    return out


def session_pids(sid: int) -> list[int]:
    return list(_session_stats(sid))


def tree_cpu_s(sid: int) -> float:
    """User + system CPU seconds of the session's processes so far,
    including children they have already reaped (PySpark's daemon reaps
    the Python workers it forks)."""
    return sum(sum(int(x) for x in f[11:15]) for f in _session_stats(sid).values()) / TICK


def tree_rss_bytes(sid: int) -> int:
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the session's total RSS every ``interval`` seconds on a
    background thread until ``stop()`` or until ``until_file`` exists."""

    def __init__(self, sid: int, until_file: str, interval: float = 0.1):
        self.sid, self.until_file, self.interval = sid, until_file, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set() and not os.path.exists(self.until_file):
            self.peak = max(self.peak, tree_rss_bytes(self.sid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
