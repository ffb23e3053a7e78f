"""The benchmark's clock: busy CPU seconds of the whole machine.

On a shared virtual machine a call's wall time moves with the CPU time the
hypervisor hands to other guests (steal): on a 4-vCPU guest the same call
ran 25-30% slower or faster from one run to the next, in step with steal.
The CPU time the call keeps busy does not move with it: the same dedup pass
measured 24.4-24.8 busy CPU seconds while its wall time went from 6.9 s to
9.0 s. So every timing the benchmark gates on is busy CPU time: user, nice,
system, irq and softirq time from ``/proc/stat``, summed over all cores,
with idle, iowait and steal left out. It counts the driver, the JVM, the
Python workers and the kernel work they cause, and also anything else that
runs on the machine meanwhile, so nothing else should run while measuring.
"""

from __future__ import annotations

import os
import threading
import time
from bisect import bisect_left

_TICK = os.sysconf("SC_CLK_TCK")


def busy_s() -> float:
    """Busy CPU seconds of the machine since boot, summed over cores."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq = map(int, f.readline().split()[1:8])
    return (user + nice + system + irq + softirq) / _TICK


class CpuSampler:
    """Samples ``busy_s()`` every ``period`` seconds on a thread while the
    context is open, so the busy CPU time up to any wall-clock instant
    (``time.time()``) inside it can be read back with ``at``."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.t: list[float] = []
        self.cpu: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.t.append(time.time())
        self.cpu.append(busy_s())

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self) -> CpuSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def at(self, t: float) -> float:
        """Busy CPU seconds at wall instant ``t``, interpolated linearly
        between the samples around it (clamped to the sampled interval)."""
        i = bisect_left(self.t, t)
        if i == 0:
            return self.cpu[0]
        if i == len(self.t):
            return self.cpu[-1]
        t0, t1, c0, c1 = self.t[i - 1], self.t[i], self.cpu[i - 1], self.cpu[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0)
