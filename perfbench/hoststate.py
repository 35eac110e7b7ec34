"""Host state and the benchmark's process tree, read from /proc (psutil
is not installed).

``host_stamp`` is taken before and after a run and stored beside its
results, so a swing caused by the host (another tenant's load, steal time
taken by the hypervisor) can be told apart from a code change.
``descendants`` finds the processes a run started (the JVM and the Python
workers it forks), so that the run can wait for them to end.
"""

from __future__ import annotations

import os
import time


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()[1:]
    ticks = [int(x) for x in fields]
    steal = ticks[7] if len(ticks) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(ticks[:8])


def host_stamp() -> dict:
    with open("/proc/loadavg", encoding="ascii") as f:
        load = [float(x) for x in f.read().split()[:3]]
    steal, total = _cpu_ticks()
    return {"time": time.time(), "nproc": cpu_count(), "loadavg": load,
            "steal_ticks": steal, "total_ticks": total}


def steal_share(before: dict, after: dict) -> float:
    total = after["total_ticks"] - before["total_ticks"]
    return (after["steal_ticks"] - before["steal_ticks"]) / total if total > 0 else 0.0


def descendants(root: int) -> set[int]:
    """Pids of every live process below ``root`` in the process tree."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        parent[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    tree, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        for pid, ppid in parent.items():
            if ppid == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree
