"""Process-tree accounting and shutdown for one benchmark invocation.

A PySpark application is a tree: this Python process, the gateway JVM it
launches, the pyspark daemon the JVM forks and the Python workers the
daemon forks.  CPU and memory are summed over the whole tree, read
from ``/proc``, and the tree is reaped before the invocation returns.

The invocation makes itself a child subreaper (``PR_SET_CHILD_SUBREAPER``)
so that a worker orphaned by its parent is re-parented here instead of
to PID 1, where it could outlive the benchmark or linger as a zombie.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, *[ctypes.c_ulong] * 4]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field: index 0 is
    the state, 1 the ppid, 11..14 utime/stime/cutime/cstime."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    """PIDs of every live or zombie descendant of ``root`` (default: self)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(entry))
    found, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), ()):
            found.append(kid)
            todo.append(kid)
    return found


def tree_cpu_s() -> float:
    """CPU seconds (user+system, own and reaped children) of this process
    and all its descendants."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of every tree member's peak resident set (VmHWM), in MiB."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def reap_descendants(timeout_s: float = 10.0) -> list[int]:
    """Wait for every descendant to exit and reap the ones re-parented
    here; SIGKILL whatever is still alive after ``timeout_s``.  Returns
    the PIDs that had to be killed (or, past a further 5 s, that would
    not die)."""
    deadline = time.monotonic() + timeout_s
    killed: list[int] = []
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        alive = descendants()
        if not alive:
            return killed
        if time.monotonic() > deadline + 5:
            return sorted(set(killed) | set(alive))
        if time.monotonic() > deadline:
            for pid in alive:
                if pid not in killed:
                    try:
                        os.kill(pid, signal.SIGKILL)
                        killed.append(pid)
                    except ProcessLookupError:
                        pass
        time.sleep(0.02)
