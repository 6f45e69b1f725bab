"""Process-tree and host readings from ``/proc``.

The benchmark's process tree is the Python driver, the JVM it launches
and the JVM's Python workers; CPU and memory are summed over all of it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesized and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children.

    Steal is time the host ran something else, so it is not in here."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            # utime stime cutime cstime (proc(5) fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_peak_mb(root: int) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already inside user, so the total stops at steal
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def ncpus() -> int:
    """What ``nproc`` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))
