"""CPU and memory of the engine's processes, read from ``/proc``.

The engine under test is the JVM that PySpark launches plus the Python
workers that JVM forks; all of them descend from the benchmark's own
process. Reading their counters from ``/proc`` (instead of Spark's task
metrics) counts the Python decode UDF's CPU, which ``executorCpuTime``
misses, and the JVM's own GC and JIT threads.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces and parens: split after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat_fields(pid: int) -> list[bytes]:
    """Fields of stat(5) after the command name, which may hold spaces
    and parens: split after the last ')'. Index 0 is field 3."""
    with open(f"/proc/{pid}/stat", "rb") as fh:
        stat = fh.read()
    return stat[stat.rindex(b")") + 2 :].split()


def cpu_s() -> float:
    """CPU seconds of every live engine process, its reaped children
    included: utime + stime + cutime + cstime (fields 14-17 of stat(5)).

    The JVM and the PySpark daemon reap the workers they fork, so a
    worker that exited is already in its parent's ``cutime``; a live one
    is counted by itself. Two reads bracket a pass."""
    ticks = 0
    for pid in descendants():
        try:
            f = _stat_fields(pid)
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        except (OSError, ValueError, IndexError):
            continue  # exited between listing and reading
    return ticks / _CLK_TCK


def peak_rss_mb() -> float:
    """Sum over the live engine processes of each one's resident
    high-water mark (``VmHWM``): an upper bound of the tree's
    simultaneous peak. Read once, at the end of a run."""
    kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next(int(line.split()[1]) for line in fh
                           if line.startswith("VmHWM:"))
        except (OSError, ValueError, StopIteration):
            continue
    return kb / 1024.0
