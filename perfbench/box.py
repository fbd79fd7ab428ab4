"""Box stamp: CPU count and how CPU and memory-bandwidth throughput scale
from 1 to ``nproc`` worker processes on this machine.

Same probe design as ``bench.measure_cpu_ceiling`` and
``bench.measure_membw_ceiling`` (an integer burn, and a stream over an
array far larger than the last-level cache), sized to run in a few
seconds. A scaling value is ``(rate(nproc) / rate(1)) / nproc``: 1.0 means
the workers scale perfectly, lower means the box shares its cores or its
memory bus. Run it outside any timed window. ``steal_share`` tells how
much CPU time a virtual machine lost to other guests in a window.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # guest time is already inside user and nice
    return fields[7], sum(fields[:8])


def steal_share(start: tuple, end: tuple) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings."""
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def _stream(n: int) -> float:
    import numpy as np

    a = np.ones(8_000_000, dtype=np.float64)  # 64 MB, far beyond the LLC
    s = 0.0
    for _ in range(n):
        s += (a * 1.000001)[::4096].sum()
    return s


def _scaling(fn, arg, procs: int, tasks_per_proc: int) -> float:
    ctx = mp.get_context("spawn")

    def rate(n: int) -> float:
        pool = ctx.Pool(n)
        try:
            pool.map(fn, [arg] * n)  # workers started and warm
            t0 = time.perf_counter()
            pool.map(fn, [arg] * (n * tasks_per_proc), chunksize=1)
            return n * tasks_per_proc / (time.perf_counter() - t0)
        finally:
            pool.close()
            pool.join()

    return rate(procs) / rate(1) / procs


def stamp() -> dict:
    n = nproc()
    return {
        "nproc": n,
        "cpu_scaling": _scaling(_burn, 1_000_000, n, 6),
        "membw_scaling": _scaling(_stream, 4, n, 4),
    }
