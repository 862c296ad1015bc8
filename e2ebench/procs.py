"""Process-tree readings from /proc: descendants, CPU time, peak RSS.

The benchmark process starts the Spark JVM, which starts the PySpark daemon
and its Python workers; every reading here covers that whole tree.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (field 3 first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> set[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat(int(d))[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = {c for c, pp in parent.items() if pp == p}
        todo.extend(kids - out)
        out |= kids
    return out


_seen: dict[tuple[int, str], int] = {}  # (pid, start time) -> last CPU ticks read


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and its descendants, including
    descendants that have since ended.  The PySpark daemon ignores SIGCHLD,
    so an ended worker's time reaches no parent's cutime; each process's
    last reading is kept instead (time it used after that reading is lost,
    so the figure never goes down)."""
    for p in {pid} | descendants(pid):
        try:
            st = _stat(p)
            _seen[(p, st[19])] = sum(int(x) for x in st[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listing and reading
    return sum(_seen.values()) / _TICK


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
