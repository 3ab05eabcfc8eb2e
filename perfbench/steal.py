"""Timing that holds still on a shared virtual machine.

On a virtual machine that shares its host, the hypervisor runs other guests on
our virtual CPUs, and ``/proc/stat`` counts those ticks as *steal*. On the
4-vCPU host the baseline was measured on, steal took 5-40% of the CPU time a
run wanted, and it varied from minute to minute. That moved raw wall times by
up to 50% between identical runs. :class:`Timer` reports the raw wall time and
``busy``: the wall time scaled by the share of wanted CPU time (everything but
idle and iowait) that was not stolen. On dedicated hardware the two agree.

Given a ``cpu`` callable (seconds used so far by the engine's processes),
:class:`Timer` also reports ``cpu``: that count's increase plus this process's
own CPU time. The kernel charges stolen ticks to steal rather than to a
process, but steal still inflates CPU time (spinning, lost cache state), so
``cpu`` moved more between runs than ``busy`` did."""

from __future__ import annotations

import time


def cpu_ticks() -> list[int]:
    """Machine-wide ticks: user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


class Timer:
    """``with Timer(cpu) as t: ...`` then ``t.wall``, ``t.steal_share``,
    ``t.busy`` and ``t.cpu``."""

    def __init__(self, cpu=None):
        self._cpu = cpu

    def __enter__(self) -> Timer:
        self._cpu0 = (self._cpu() if self._cpu else 0.0) + time.process_time()
        self._ticks = cpu_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        self.cpu = (self._cpu() if self._cpu else 0.0) + time.process_time() - self._cpu0
        d = [b - a for a, b in zip(self._ticks, cpu_ticks())]
        wanted = sum(d) - d[3] - d[4]
        self.steal_share = d[7] / wanted if wanted > 0 else 0.0
        self.busy = self.wall * (1.0 - self.steal_share)
