"""Host context and the memory of the processes Spark starts."""

from __future__ import annotations

import os
from pathlib import Path


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            stat = Path(entry.path, "stat").read_text()
        except OSError:
            continue  # exited while we looked
        # the command name may hold spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def _descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks_of(pid: int) -> int:
    try:
        f = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    except OSError:
        return 0  # exited while we looked
    # utime, stime, and those of the children it has reaped
    return sum(int(x) for x in f[11:15])


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the driver JVM, the Python workers it forks, and
    the workers that already exited (through their parent's reaped-child
    times). The kernel leaves out the time the hypervisor stole."""
    root = os.getpid()
    return sum(_cpu_ticks_of(p) for p in [root, *_descendants(root)]) / _TICK


def _peak_rss_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass  # exited while we looked
    return 0


def peak_rss_mb(root: int) -> float:
    """Summed peak RSS (the kernel's ``VmHWM``) of every process below
    ``root``: the driver JVM and the Python workers it forks. Read before
    they exit; a high-water mark needs no sampling."""
    return sum(_peak_rss_kb(p) for p in _descendants(root)) / 1024.0


def loadavg() -> list[float]:
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def cpu_ticks() -> list[int]:
    """The host-wide CPU time counters of ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Shares of all CPU time between two ``cpu_ticks`` readings that
    were stolen by the hypervisor or spent waiting on I/O. On a shared
    virtual machine, steal is the usual cause of a slow window."""
    d = [b - a for a, b in zip(before, after)]
    total = max(1, sum(d[:8]))
    return {"steal_share": round(d[7] / total, 4),
            "iowait_share": round(d[4] / total, 4)}


def arrow_probe() -> float | None:
    """``bench.py``'s Arrow IPC host probe (rows/s), shortened to 0.5 s;
    None when the checkout no longer has it."""
    try:
        import bench
    except ImportError:
        return None
    probe = getattr(bench, "_host_probe", None)
    return probe(0.5) if probe else None
