"""Summary statistics the benchmark reports: median, the tail
percentile rule, failure share, peak resident memory."""

from __future__ import annotations

import math
import statistics
from pathlib import Path
from typing import Optional, Sequence, Tuple

MIN_BEYOND = 10  # samples a reported tail percentile must have beyond it


def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: Sequence[float], q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    s = sorted(xs)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return float(s[k - 1])


def tail(xs: Sequence[float]) -> Optional[Tuple[float, float, int]]:
    """The highest of p99.9/p99/p95/p90/p75 that leaves at least
    MIN_BEYOND samples above its rank: (percentile, value, n_beyond).
    None when the sample is too small for any of them."""
    n = len(xs)
    for q in (99.9, 99.0, 95.0, 90.0, 75.0):
        beyond = n - max(1, math.ceil(q / 100.0 * n))
        if beyond >= MIN_BEYOND:
            return q, percentile(xs, q), beyond
    return None


def failed_share(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted


def vm_hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a live process, in MB; 0.0 when the
    process is gone or the platform has no /proc."""
    try:
        text = Path(f"/proc/{pid}/status").read_text()
    except OSError:
        return 0.0
    for line in text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0
