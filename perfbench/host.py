"""Host-noise record and process-tree memory sampling.

The host may be shared, so each run records the load average and a
fixed-work calibration (a float64 GEMM and a memory copy) at its start and
end. The record is only reported next to the metrics; it never skips or
re-weights a run.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def calibration() -> dict:
    """Load averages plus a fixed piece of work: four 1024x1024 float64
    GEMMs and four copies of 64 MiB."""
    la1, la5, _ = os.getloadavg()
    n, reps = 1024, 4
    a = np.random.default_rng(0).standard_normal((n, n))
    a @ a  # thread pool start-up stays out of the timing
    t = time.perf_counter()
    for _ in range(reps):
        a @ a
    gemm_s = time.perf_counter() - t
    src = np.ones(8 << 20)  # 64 MiB
    dst = np.empty_like(src)
    t = time.perf_counter()
    for _ in range(4):
        np.copyto(dst, src)
    copy_s = time.perf_counter() - t
    return {
        "loadavg_1m": la1,
        "loadavg_5m": la5,
        "gemm_gflops": reps * 2 * n**3 / gemm_s / 1e9,
        "memcpy_gbps": 4 * src.nbytes / copy_s / 1e9,
    }


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak summed RSS of this process and its descendants (the driver
    JVM and the Python workers), sampled every `period_s`."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_mb(p) for p in [me, *descendants(me)])
            self.peak_mb = max(self.peak_mb, total)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
