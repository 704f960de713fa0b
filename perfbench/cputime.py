"""CPU time of the benchmark's process tree: this process, the Spark JVM
it launched and the JVM's Python workers.

On a host whose cores are shared, wall-clock rates follow whatever else
runs there; the CPU time a fixed amount of ingestion costs does not (see
perfbench/README.md), so the gated throughput metric is CPU time per
record.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int]:
    """(parent pid, CPU ticks of the process and its reaped children)."""
    with open(f"/proc/{pid}/stat") as fh:
        s = fh.read()
    f = s[s.rindex(")") + 2 :].split()
    # utime, stime, cutime, cstime: fields 14-17 of proc(5).
    return int(f[1]), sum(int(x) for x in f[11:15])


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process) and
    every live descendant, including the descendants they have reaped."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)], ticks[int(d)] = _stat(d)
            except (OSError, ValueError, IndexError):
                continue  # the process ended while we listed it
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root or os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / _TICK
