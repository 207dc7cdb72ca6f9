"""Process-tree helpers: peak RSS over the tree, and reaping descendants.

The tree is this Python driver plus everything it started: the Spark JVM
and the Python workers the JVM forks. Both helpers read ``/proc`` only.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def descendants(root: int, skip_spawning: bool = False) -> list[int]:
    """Every process below ``root``. With ``skip_spawning``, leave out a
    JVM's child that still runs the JVM's own executable: the JVM starts
    processes with a vfork-style spawn, and until that child execs it
    shares the JVM's memory, so its RSS would count the JVM twice."""
    children = _children()
    out, todo = [], [root]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, []):
            if skip_spawning:
                exe = _exe(parent)
                if exe and os.path.basename(exe) == "java" and _exe(c) == exe:
                    continue
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class PeakRss:
    """Samples the summed RSS of the tree every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in [me, *descendants(me, skip_spawning=True)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


def reap(timeout: float = 20.0) -> list[int]:
    """Wait for every descendant to end; SIGKILL what is left after
    ``timeout``. Returns the pids that had to be killed."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while descendants(me) and time.monotonic() < deadline:
        _wait_children()
        time.sleep(0.1)
    killed = descendants(me)
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while descendants(me) and time.monotonic() < deadline:
        _wait_children()
        time.sleep(0.05)
    return killed


def _wait_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
