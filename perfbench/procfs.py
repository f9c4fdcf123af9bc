"""CPU time and peak memory of a process tree, read from ``/proc``.

psutil is not installed, so this reads ``/proc/<pid>/stat`` and
``/proc/<pid>/status`` directly. A process tree's CPU time is the sum,
over every live process in it, of user + system time of the process and
of its children that have exited and been waited for (``cutime`` and
``cstime``). That covers the Python driver, the Spark JVM it launched
and the PySpark worker processes the JVM forks.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def read_stat(pid: int, proc: str = "/proc") -> tuple[int, str, float]:
    """(parent pid, command name, CPU seconds incl. waited-for children)."""
    with open(f"{proc}/{pid}/stat") as fh:
        data = fh.read()
    # the command name is in parentheses and may itself hold spaces
    head, _, rest = data.rpartition(")")
    comm = head.split("(", 1)[1]
    fields = rest.split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(fields[1])
    ticks = sum(int(f) for f in fields[11:15])
    return ppid, comm, ticks / CLK_TCK


def descendants(root: int, proc: str = "/proc") -> dict[int, tuple[str, float]]:
    """Every live process in the tree rooted at ``root``, root included:
    pid -> (command name, CPU seconds). Processes that exit while the
    table is read are skipped."""
    table: dict[int, tuple[int, str, float]] = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            table[int(entry)] = read_stat(int(entry), proc)
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[str, float]] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in table and pid not in out:
            out[pid] = (table[pid][1], table[pid][2])
            stack.extend(children.get(pid, ()))
    return out


def tree_cpu(root: int, proc: str = "/proc") -> tuple[float, float]:
    """(CPU seconds of the whole tree, CPU seconds of its Python
    processes other than ``root``), for PySpark workers."""
    total = python = 0.0
    for pid, (comm, cpu) in descendants(root, proc).items():
        total += cpu
        if pid != root and comm.startswith("python"):
            python += cpu
    return total, python


def vm_hwm_mb(pid: int, proc: str = "/proc") -> float:
    """Peak resident set size (``VmHWM``) of one process, in MiB."""
    with open(f"{proc}/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def java_children(root: int, proc: str = "/proc") -> list[int]:
    """Pids of the ``java`` processes in the tree: the Spark JVM."""
    return [p for p, (comm, _) in descendants(root, proc).items() if comm == "java"]
