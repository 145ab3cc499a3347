"""Process-tree CPU, host steal and the small statistics the benchmark reports.

CPU is read from ``/proc`` rather than from Spark, so it covers every
process the run owns: this Python process, the Spark JVM, the Python daemon
and its forked workers.  Each live process contributes its own user+system time
plus the times of children it has already reaped (``cutime``/``cstime``),
so a Python worker that exited during an iteration is still counted.
Steal time is not counted in these numbers, unlike in wall time.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm may hold spaces and parentheses; the fields after it do not
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_seconds(root: int | None = None) -> float:
    """User+system CPU seconds of ``root``'s process tree, reaped children
    included.  Take the difference of two readings to cost an interval."""
    ticks = 0
    for pid in process_tree(os.getpid() if root is None else root):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        # after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
        ticks += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return ticks / CLK_TCK


def steal_seconds() -> float:
    """Host-wide steal time so far, summed over CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(cpu[8]) / CLK_TCK


def host_sample() -> dict:
    """A reading to diff: wall-independent host counters."""
    return {"steal_s": steal_seconds(), "loadavg_1m": os.getloadavg()[0]}


def host_delta(before: dict, after: dict) -> dict:
    return {
        "steal_s": round(after["steal_s"] - before["steal_s"], 3),
        "loadavg_before": round(before["loadavg_1m"], 2),
        "loadavg_after": round(after["loadavg_1m"], 2),
    }


TAIL_BEYOND = 10


def tail_percentile(values: list[float]) -> dict | None:
    """The highest percentile that still has ``TAIL_BEYOND`` samples above it.

    With n sorted samples that is the (n - TAIL_BEYOND)-th smallest, i.e.
    the ``100 * (n - TAIL_BEYOND) / n`` percentile.  Returns None when there
    are not more than ``TAIL_BEYOND`` samples: no percentile is supported."""
    beyond = TAIL_BEYOND
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    return {
        "value": ordered[n - beyond - 1],
        "percentile": round(100.0 * (n - beyond) / n, 2),
        "samples": n,
    }


def pair_recall(truth: list[tuple], found) -> float:
    """Share of ``truth`` pairs that ``found`` reports, order-insensitive.

    ``found`` is either a set of pairs or a mapping item -> cluster label;
    with a mapping a pair counts when both items carry the same label."""
    if not truth:
        raise ValueError("no planted pairs to recall")
    if isinstance(found, dict):
        hit = sum(
            1 for a, b in truth
            if a in found and b in found and found[a] == found[b]
        )
    else:
        hit = sum(1 for a, b in truth if (a, b) in found or (b, a) in found)
    return hit / len(truth)
