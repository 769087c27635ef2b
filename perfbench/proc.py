"""Process-tree CPU and memory of the benchmark, read from /proc: this
process, the JVM it launched and the JVM's Python workers."""

from __future__ import annotations

import glob
import os

_TICK = os.sysconf("SC_CLK_TCK")


def _tree() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields (after the command name) of every live
    descendant of this process, this process included."""
    info: dict[int, list[str]] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                head, tail = f.read().rsplit(") ", 1)
            info[int(head.split(" ", 1)[0])] = tail.split()
        except (OSError, ValueError):
            continue
    me = os.getpid()
    keep, frontier = {}, {me}
    while frontier:
        for pid in frontier:
            if pid in info:
                keep[pid] = info.pop(pid)
        frontier = {pid for pid, f in info.items() if int(f[1]) in frontier}
    return keep


def tree_cpu_s() -> float:
    """CPU seconds used so far by the live tree, plus children it reaped."""
    return sum(sum(int(x) for x in f[11:15]) for f in _tree().values()) / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM) since the last
    ``reset_peak_rss``."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat. Steal
    is time a virtual CPU was ready but the host ran something else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def reset_peak_rss() -> None:
    """Reset each live process's VmHWM to its current resident set, so a later
    ``tree_peak_rss_mb`` covers only what ran since (no-op where refused)."""
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue
