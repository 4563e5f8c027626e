"""Box-speed probe: a fixed single-threaded piece of interpreter and numpy
work, timed in thread CPU time between operations.

On a shared virtual machine the host's load changes how fast a vCPU
runs without showing up as steal: a sibling hyperthread or the memory
bus is busy elsewhere.  The same instructions then take more CPU time,
so the workload's wall time and CPU time grow together, and so does
this probe's CPU time.  Dividing by the probe's slowdown against a
pinned reference gives figures in reference-box units, comparable
across runs taken under different host load.

The probe counts CPU time, not wall time, so a process competing for
the vCPUs inside the machine does not change it: its effect stays
visible in the wall-time metrics and out of the CPU-time one.
"""

from __future__ import annotations

import time

import numpy as np

# The unit the loop's metrics are expressed in: the probe's median CPU
# time on the reference box (a 4-vCPU virtual machine) in a calm window.
# Any fixed value serves to compare runs; this one keeps the normalised
# figures close to the raw ones on that box.
PROBE_REF_S = 0.014


class BoxProbe:
    def __init__(self, n: int = 65_536):
        rng = np.random.default_rng(0)
        self.x = rng.random(n)
        self.k = rng.integers(0, 1 << 62, n, dtype=np.int64)
        self.times: list[float] = []

    def _work(self) -> int:
        a = np.arcsin(2.0 * self.x - 1.0) + np.cos(self.x)
        h = (self.k ^ (self.k >> 31)) * 0x5DEECE66D
        order = np.argsort(h, kind="stable")
        s = int(np.searchsorted(h[order], h[:4096]).sum()) + int(a.argmax())
        for i in range(40_000):
            s ^= i * 2654435761
        return s

    def run(self) -> float:
        """Run one probe, keep its thread CPU seconds; returns the wall
        seconds it took."""
        w, t = time.perf_counter(), time.thread_time()
        self._work()
        self.times.append(time.thread_time() - t)
        return time.perf_counter() - w

    def slowdown(self) -> float:
        """Median probe time over the reference time (1.0 = calm box)."""
        s = sorted(self.times)
        return s[len(s) // 2] / PROBE_REF_S
