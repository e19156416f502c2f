"""Process-tree accounting read from ``/proc``: CPU seconds, liveness.

The benchmark process starts the Spark JVM, which starts the Python
workers; all of them are its descendants. CPU is summed over the live
tree including each process's reaped children (``cutime``/``cstime``), so
a worker that exits inside a measured interval still counts once its
parent has reaped it.
"""

from __future__ import annotations

import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, start ticks)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5)
    cpu = sum(int(x) for x in fields[11:15])
    return int(fields[1]), cpu, int(fields[19])


def tree(root: int | None = None) -> dict[int, tuple[int, int, int]]:
    """Stat of ``root`` (default: this process) and every descendant."""
    root = os.getpid() if root is None else root
    stats = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(st[0], []).append(int(name))
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_s(procs) -> float:
    return sum(st[1] for st in procs.values()) / _CLK


def wait_gone(procs, timeout: float) -> list[int]:
    """Wait until every process in ``procs`` (as returned by :func:`tree`)
    has exited; kill what is left after ``timeout``. A pid counts as the
    same process only while its start time matches. Returns the pids that
    had to be killed."""
    deadline = time.monotonic() + timeout

    def alive():
        out = []
        for pid, st in procs.items():
            now = _stat(pid)
            # a zombie child of this process is reaped by the caller
            if now is not None and now[2] == st[2]:
                out.append(pid)
        return out

    left = alive()
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = alive()
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    return left
