"""Process and host readings from /proc: CPU time of a process tree, peak
resident memory, steal time, load average and a fixed CPU calibration loop.

The calibration loop, steal and load average are run context: they explain
an outlier run and never rescale a metric."""

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
    # the command name may hold spaces; fields resume after its closing ")"
    return raw[raw.rindex(")") + 2 :].split()


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] not in ("Z", "X")


def tree_cpu_s(pid: int) -> float:
    """User + system seconds of ``pid`` and its live descendants, including
    the children each of them has reaped (cutime/cstime), so a Python worker
    that exits during the window still counts."""
    total = 0
    for p in descendants(pid):
        fields = _stat_fields(p)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def calibrate() -> float:
    """Seconds taken by a fixed pure-Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0
