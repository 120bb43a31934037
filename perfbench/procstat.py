"""CPU time and peak memory of the benchmark's process tree, read from
/proc: this process, the JVM it launched and the JVM's Python workers;
and the machine's steal time."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_seconds() -> float:
    """User + system CPU used so far by the tree, including children
    that already exited and were reaped (cutime, cstime)."""
    ticks = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / TICK


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of the live tree."""
    total_kb = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def steal_seconds() -> float:
    """CPU time, summed over the machine's CPUs, that the hypervisor
    gave to other guests while these CPUs had work to run (the steal
    column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


def uncontended(wall: float, cpu: float, steal: float) -> float:
    """``wall`` less the share of it the host took: the runnable time of
    an interval is ``cpu + steal`` and ``steal`` of it was lost, so a
    CPU-bound interval would have taken ``wall * cpu / (cpu + steal)``
    on an uncontended host."""
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall
