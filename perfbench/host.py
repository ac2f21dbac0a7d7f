"""Hypervisor steal, read from /proc/stat.

On a shared VM the hypervisor runs other guests while this one wants
CPU; the guest kernel counts that time as ``steal``. On a 4-vCPU VM,
18 identical passes ranged 3.3-5.1 s in wall time and 3.0-3.5 s in
``wall * (1 - steal share)`` (README.md, "Times net of steal").
"""

from __future__ import annotations


def cpu_jiffies() -> tuple[float, float, float]:
    """(busy, steal, total) jiffies of the whole machine so far."""
    with open("/proc/stat") as f:
        vals = [float(x) for x in f.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals + [0.0] * (8 - len(vals))
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + idle + iowait + steal


def steal_of(a, b) -> tuple[float, float]:
    """(steal_frac, steal_share) between two cpu_jiffies() readings:
    steal as a share of the machine's capacity, and as a share of the
    CPU this VM wanted (busy + stolen)."""
    busy, steal, total = (y - x for x, y in zip(a, b))
    return steal / max(total, 1e-9), steal / max(busy + steal, 1e-9)


def net_of_steal(seconds: float, share: float) -> float:
    """Wall time with the stolen share of the wanted CPU taken out: the
    time the interval would have taken had every cycle the VM wanted
    been given to it, assuming progress in proportion to CPU received."""
    return seconds * (1.0 - share)
