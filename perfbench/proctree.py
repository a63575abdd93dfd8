"""CPU time and resident memory of this process and its descendants, read
from ``/proc`` (the Python driver, the Spark JVM and its Python workers)."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime (fields 14-17; f[0] is field 3)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def seconds_since_start() -> float:
    """Wall seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start_ticks = int(_stat_fields(os.getpid())[19])
    return uptime - start_ticks / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot, from
    ``/proc/stat``: time other tenants of the host took from this one."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is
    # already counted in user and nice)
    return fields[7], sum(fields[:8])


def stamp() -> tuple[float, float]:
    """(wall seconds, CPU seconds of this process tree) now."""
    return time.perf_counter(), cpu_s(descendants(os.getpid()))


def since(t0: tuple[float, float]) -> tuple[float, float]:
    """(wall, CPU) seconds elapsed since ``stamp()`` returned ``t0``."""
    wall, cpu = stamp()
    return wall - t0[0], cpu - t0[1]
