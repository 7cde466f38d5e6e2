"""Process-tree CPU, host CPU and host steal, read from ``/proc``.

The tree is this driver Python process, the JVM it launched, and every
process below the JVM (the PySpark daemon and its forked Python workers).
A process's own time is ``utime + stime``; ``cutime + cstime`` holds the time
of children it has already reaped, so summing both over the live tree counts
every exited worker once.
"""

from __future__ import annotations

import os

HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped-children cpu s) or None if the pid is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / HZ
    reaped = (int(fields[13]) + int(fields[14])) / HZ
    return ppid, own, reaped


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(st[0], []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def cpu_split(jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds so far of the driver Python, the JVM and the Python
    workers under the JVM. Differences of two calls give a window's share."""
    me = _stat(os.getpid())
    out = {"driver": me[1] if me else 0.0, "jvm": 0.0, "pyworker": 0.0}
    if jvm_pid is None:
        return out
    jvm = _stat(jvm_pid)
    if jvm is not None:
        out["jvm"] = jvm[1]
    for pid in descendants(jvm_pid):
        st = _stat(pid)
        if st is not None:
            out["pyworker"] += st[1] + st[2]
    return out


def host_cpu() -> tuple[float, float]:
    """Host-wide (busy, steal) CPU seconds since boot, all CPUs summed. Busy
    is user, nice, system, irq and softirq time; steal is time a virtual CPU
    was ready to run while the hypervisor ran another guest."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9])
    return (user + nice + system + irq + softirq) / HZ, steal / HZ


def unstolen(before: tuple[float, float], after: tuple[float, float]) -> float:
    """Share of the runnable CPU time between two ``host_cpu`` readings that
    the hypervisor did not steal (1.0 when nothing ran)."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def steal_s() -> float:
    """Host-wide CPU steal seconds since boot (all CPUs summed)."""
    return host_cpu()[1]
