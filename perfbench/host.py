"""Host conditions recorded with every result, and peak-memory accounting."""

from __future__ import annotations

import os
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


def memcpy_gbps(nbytes: int = 64 << 20, reps: int = 3) -> float:
    """Single-thread copy bandwidth between two preallocated buffers, best
    of ``reps`` (read + write bytes per second)."""
    import numpy as np

    a = np.ones(nbytes, dtype=np.uint8)
    b = np.empty_like(a)
    np.copyto(b, a)  # fault both buffers in before timing
    best = 0.0
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(b, a)
        best = max(best, 2 * nbytes / (time.perf_counter() - t0) / 1e9)
    return round(best, 2)


def conditions(n_local: int) -> dict:
    return {
        "nproc": nproc(),
        "local_n": n_local,
        "memcpy_gbps": memcpy_gbps(),
        "loadavg": loadavg(),
    }


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of a set of processes over a window: the kernel's
    high-water mark is reset at :meth:`start` (``clear_refs`` 5) and read at
    :meth:`peak_mb`, summed over processes."""

    def __init__(self, pids: list[int]):
        self.pids = [p for p in pids if p]

    def start(self) -> None:
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # the mark then covers the process lifetime

    def peak_mb(self) -> float:
        return sum(_status_kb(p, "VmHWM") for p in self.pids) / 1024.0
