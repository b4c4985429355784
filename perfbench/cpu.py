"""CPU seconds used so far by this process and every process it started.

The engine runs in three kinds of process: this Python driver, the Spark JVM
it launches, and the Python workers the JVM forks. Their user + system time
is read from /proc/<pid>/stat (clock ticks; a dead child's time moves into
its parent's cutime/cstime, so it is still counted once). Time the host
steals from this machine's CPUs and time spent waiting to be scheduled are
not CPU time, which makes these figures far steadier than wall time on a
shared host.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:         # the process ended while we listed /proc
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        rest = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        children.setdefault(int(rest[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in rest[11:15])
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / _TICK
