"""Process-tree bookkeeping from ``/proc``: resident memory of the driver,
its JVM and the JVM's Python workers, and waiting for them to end."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for child in kids.get(pid, ()):
            out.append(child)
            todo.append(child)
    return out


def _resident_bytes(pid: int, proportional: bool = True) -> int:
    """Proportional set size (shared pages split among the processes
    sharing them, so forked Python workers are not counted twice), or the
    plain resident size where the kernel has no ``smaps_rollup`` or
    ``proportional`` is false."""
    if proportional:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def tree_rss_bytes(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and its descendants, by command name.

    The JVM counts its plain resident size: it shares no pages with the
    other processes, and reading its ``smaps_rollup`` walks its whole
    address space (about 20 ms at 1.4 GB resident, under the lock its own
    ``mmap`` calls need), which would slow the program being measured."""
    out: dict[str, int] = {}
    for pid in [root, *descendants(root)]:
        name = "driver" if pid == root else _comm(pid)
        out[name] = out.get(name, 0) + _resident_bytes(pid, name != "java")
    return out


def host_cpu_ticks() -> dict[str, int]:
    """The host's cumulative CPU time by state from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, vals))


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants every ``interval`` seconds; ``peak`` is the largest sum."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            by_command = tree_rss_bytes(root)
            total = sum(by_command.values())
            if total > self.peak:
                self.peak, self.peak_by_command = total, by_command
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_ended(pids: list[int], timeout: float = 30.0) -> list[int]:
    """Wait until every process in ``pids`` has ended, reaping those that
    are our children.  Processes still running after ``timeout`` seconds
    get SIGKILL and are waited for in turn.  Returns the pids killed."""
    deadline = time.monotonic() + timeout
    killed: list[int] = []
    while True:
        _wait_children()
        alive = [p for p in pids if _running(p)]
        if not alive:
            return killed
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                    killed.append(pid)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def _wait_children() -> None:
    """Collect exit statuses of finished direct children (zombies)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
