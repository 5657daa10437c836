"""Resident memory and CPU time of this process's descendants, from /proc.

The descendants are the Spark driver JVM launched by PySpark and the
Python worker processes it forks; the benchmark's own interpreter is not
counted.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces; everything after ')' is fixed.
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes() -> int:
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def tree_cpu_s() -> float:
    """utime + stime of every descendant, including reaped children's."""
    ticks = 0
    for pid in descendants():
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of /proc/<pid>/stat, counted from 1
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


class TreeMeter:
    """While in scope: the descendants' peak summed RSS, sampled on a
    thread, and the CPU seconds they used."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_rss = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_rss = max(self.peak_rss, tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "TreeMeter":
        self.cpu_s = -tree_cpu_s()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.cpu_s += tree_cpu_s()
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_rss = max(self.peak_rss, tree_rss_bytes())


def reap(pids: list[int], timeout_s: float = 20.0) -> list[int]:
    """Wait for ``pids`` to exit; SIGTERM, then SIGKILL, what outlives the
    timeout. Returns the pids that were still alive and had to be killed."""
    def alive(p: int) -> bool:
        f = _stat_fields(p)
        return f is not None and f[0] != "Z"

    killed = []
    for sig, wait in ((None, timeout_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        live = [p for p in pids if alive(p)]
        if not live:
            break
        if sig is not None:
            killed.extend(p for p in live if p not in killed)
            for p in live:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline and any(alive(p) for p in live):
            time.sleep(0.1)
    for p in pids:  # collect our own zombies
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass
    return killed
