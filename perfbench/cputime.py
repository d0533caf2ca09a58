"""CPU time of this process and every process it started.

Spark runs its work in a JVM this process starts, and the JVM runs Python
UDFs in worker processes of its own. The CPU time of that whole process
tree is the cost of a Spark call. Unlike its wall time, it does not grow
while other processes on the host take the CPUs. It still grows, by less,
while the hypervisor steals them. Read from /proc.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process) and
    its live descendants, plus those of descendants they have reaped."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:          # the process ended while we listed
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / _TICK
