"""CPU time and peak memory of this process and its children, from /proc."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(int(entry))[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def cpu_s(pids: list[int] | None = None) -> float:
    """User plus system CPU seconds of ``pids`` (default: the process tree),
    reaped children included (the Spark driver JVM and its Python workers)."""
    ticks = 0
    for pid in pids or tree():
        try:
            f = _stat_fields(pid)
        except (OSError, IndexError):
            continue  # exited since the listing
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the process tree, summed per process."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except OSError:
            continue
    return total_kb / 1024.0


def quiesce() -> float:
    """Wait until the process tree is idle — under 0.1 core of CPU over a
    quarter second — so background work left by the previous step (JIT
    compilation, garbage collection, Spark cleanup) is not charged to the
    next one. Gives up after 10 s; returns the seconds waited."""
    step, t0 = 0.25, time.perf_counter()
    c0 = cpu_s()
    while time.perf_counter() - t0 < 10.0:
        time.sleep(step)
        c1 = cpu_s()
        if c1 - c0 < 0.1 * step:
            break
        c0 = c1
    return time.perf_counter() - t0
