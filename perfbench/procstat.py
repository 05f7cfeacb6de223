"""Resident memory of this process and everything it started, from /proc.

The Spark driver JVM is a child of this Python process and the Python
workers are children of the JVM, so the process tree under this pid is the
whole program.
"""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICKS = os.sysconf("SC_CLK_TCK")


def processes() -> dict[int, tuple[int, bytes]]:
    """pid -> (parent pid, command name) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        comm = stat[stat.index(b"(") + 1:stat.rindex(b")")]
        out[int(name)] = (int(stat[stat.rindex(b")") + 2:].split()[1]), comm)
    return out


def tree(root: int, procs: dict) -> list[int]:
    """root and all its descendants in `procs` (as from processes())."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User plus system CPU time spent so far by root and its descendants,
    including their children that have ended and been waited for. Time the
    host takes away from this machine's CPUs (steal) is not in it."""
    total = 0
    for pid in tree(root, processes()):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listing and reading
        fields = stat[stat.rindex(b")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / TICKS


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0  # the process ended between listing and reading


def _counted(root: int, procs: dict) -> list[tuple[int, str]]:
    """(pid, command) of root, the JVMs and the Python processes below it.
    Other descendants are short-lived helpers the JVM spawns (chmod and the
    like); until they exec they share the JVM's memory, and counting them
    would count the JVM again."""
    out = []
    for pid in tree(root, procs):
        comm = procs.get(pid, (0, b""))[1].decode(errors="replace")
        if pid == root or comm == "java" or comm.startswith("python"):
            out.append((pid, comm))
    return out


class PeakRss:
    """Samples the tree's RSS on a thread while `active` is set; `peak`
    holds the largest sum seen and `peak_parts` its (command, bytes)
    parts. The sampler shares the interpreter with the program's driver
    code (foreachBatch runs there), so it samples sparingly and re-lists
    /proc only every `refresh_s`."""

    def __init__(self, root: int, interval_s: float = 0.25,
                 refresh_s: float = 1.0):
        self.root, self.interval_s, self.refresh_s = root, interval_s, refresh_s
        self.peak = 0
        self.peak_parts: list[tuple[str, int]] = []
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self):
        counted, listed = [], 0.0
        while not self._stop.is_set():
            if self.active.wait(self.interval_s):
                if time.monotonic() - listed > self.refresh_s:
                    counted, listed = _counted(self.root, processes()), time.monotonic()
                parts = [(comm, _rss(pid)) for pid, comm in counted]
                total = sum(b for _, b in parts)
                if total > self.peak:
                    self.peak, self.peak_parts = total, parts
                time.sleep(self.interval_s)
