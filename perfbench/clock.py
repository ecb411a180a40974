"""Interval timing with the time taken by the hypervisor left out.

``since`` gives an interval's wall time and the same time less the share
the hypervisor stole. On a virtual machine, ``/proc/stat`` counts *steal*:
time in which a virtual CPU had work to run while the host ran another
guest. The corrected time scales the wall time by the share of the
machine's busy CPU time in the interval that was not stolen. Where the
kernel reports no steal, both readings are equal.

A mark is a plain tuple, so it can be passed to another process on the
command line: ``time.monotonic()`` is the same clock in every process.
"""

from __future__ import annotations

import time

Mark = tuple[float, int, int]


def _ticks() -> tuple[int, int]:
    """(steal, busy including steal) CPU ticks since boot, all CPUs."""
    try:
        with open("/proc/stat") as f:
            user, nice, system, _idle, _iowait, irq, softirq, steal = (
                int(x) for x in f.readline().split()[1:9])
    except (OSError, ValueError):
        return 0, 0
    return steal, user + nice + system + irq + softirq + steal


def mark() -> Mark:
    return (time.monotonic(), *_ticks())


def since(m: Mark) -> tuple[float, float]:
    """(wall seconds, wall seconds less the stolen share) since ``m``."""
    wall = time.monotonic() - m[0]
    steal, busy = _ticks()
    busy -= m[2]
    return wall, (wall * (1.0 - (steal - m[1]) / busy) if busy > 0 else wall)

