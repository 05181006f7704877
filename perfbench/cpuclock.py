"""The benchmark's clock for work done: CPU seconds of the driver's process tree."""

from __future__ import annotations

import os

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM and its Python workers), counting reaped children too.

    The kernel charges a process only for time it ran, not for time the
    hypervisor gave to other guests (steal), so differences of this clock
    measure the engine's work whatever the load on the host. Wall-clock
    times on a shared VM follow that load instead."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        # after "(comm)": state, ppid, ... utime, stime, cutime, cstime (fields 14-17)
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _ticks) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return ticks / CLOCK_TICKS
