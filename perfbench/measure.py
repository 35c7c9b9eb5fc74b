"""Sample statistics and process probes shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics

# candidate tail percentiles, highest first (see ``tail``)
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def _rank(p: float, n: int) -> int:
    # rounded first: 99.9 / 100 * 10000 is 9990.000000000002 in binary
    return max(1, math.ceil(round(p / 100.0 * n, 6)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[_rank(p, len(s)) - 1]


def tail(values) -> tuple[float, float]:
    """(p, value) for the highest percentile with at least ten samples
    beyond it. When none has, the median is reported as p50."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= 10:
            return p, percentile(values, p)
    return 50.0, statistics.median(values)


def median(values) -> float:
    return statistics.median(values)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a live process, from /proc VmHWM."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024.0 * 1024.0)
    raise RuntimeError("no MemTotal in /proc/meminfo")


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(path)
        for f in files
    )
