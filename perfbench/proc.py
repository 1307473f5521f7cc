"""Process-tree bookkeeping from /proc: CPU seconds and descendants, and
the host's load average and steal time."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds of the process and its reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # fields[0] is state (stat field 3): utime..cstime are 14..17
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK)
    return out


def _walk(table: dict[int, tuple[int, float]], root: int) -> list[int]:
    """``root`` (if alive) and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return [p for p in out if p in table]


def descendants(root: int) -> list[int]:
    return [p for p in _walk(_table(), root) if p != root]


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and
    every descendant, live or reaped (the JVM, its Python workers)."""
    table = _table()
    return sum(table[p][1] for p in _walk(table, os.getpid() if root is None else root))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor gave a ready virtual CPU to someone else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)
