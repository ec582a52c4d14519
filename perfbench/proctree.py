"""Process-tree walks over ``/proc``, shared by the run supervisor (memory)
and the worker (CPU time)."""

from __future__ import annotations

import os


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks of the process plus its reaped
    children, user + system)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            table[int(entry)] = (int(f[1]), int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]))
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
    return table


def descendants(pid: int, table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    """``pid`` and every live process below it."""
    table = proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for p, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``pid`` (default: this
    process) and all its descendants, counting descendants that already
    exited and were reaped. Unlike wall time it does not grow while the host
    gives the CPUs to other guests."""
    table = proc_table()
    pid = os.getpid() if pid is None else pid
    ticks = sum(table[p][1] for p in descendants(pid, table) if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")
