"""Host probe attached to every run: load, cores, and a short fixed CPU
and memory-bandwidth probe. On a shared host a busy window shows here
next to the numbers it inflates."""

from __future__ import annotations

import os
import time

import numpy as np

_MEM_BYTES = 64 * 1024 * 1024


def _cpu_s() -> float:
    """Seconds for a fixed pure-Python loop (median of 3)."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        times.append(time.perf_counter() - t0)
    return sorted(times)[1]


def _mem_gb_per_s() -> float:
    """Copy bandwidth over a 64 MiB buffer (read + write, median of 3)."""
    a = np.ones(_MEM_BYTES // 8)
    b = np.empty_like(a)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        np.copyto(b, a)
        times.append(time.perf_counter() - t0)
    return 2 * _MEM_BYTES / sorted(times)[1] / 1e9


def probe() -> dict:
    return {
        "loadavg_1m": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_loop_s": _cpu_s(),
        "mem_copy_gb_per_s": _mem_gb_per_s(),
    }
