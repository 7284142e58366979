"""Summary statistics and naming rules shared by the benchmark's reports.

Every timing is reported as a median plus its sample count, and a tail
percentile is only reported when at least ten samples lie beyond it
(``tail_supported``).
"""

from __future__ import annotations

import math
import re
import resource
import statistics
import time

import numpy as np

# Set-up time is reported at a reference host speed: wall seconds scaled by
# CALIBRATION_REF_S / (what ``calibrate()`` takes in the same run). On a
# shared host the CPU runs up to 1.7x faster or slower for minutes at a
# time, and every set-up part (JVM start, worker warm-up, corpus
# generation, build, oracle) moves with it; a scaled figure still shows
# work moved into set-up, without the host's speed.
CALIBRATION_REF_S = 0.1

# metric names: a letter or digit first, then letters, digits, "_", "." and
# "-", at most 64 characters
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
# units: letters, digits, "_", "/", "%", "." and "-", at most 16 characters
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def min_samples_for(pct: float) -> int:
    """Smallest sample count that leaves at least ten samples above the
    ``pct`` percentile (p99 -> 1000, p90 -> 100)."""
    return math.ceil(10 / (1.0 - pct / 100.0) - 1e-9)


def tail_supported(n: int, pct: float) -> bool:
    return n >= min_samples_for(pct)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(pct/100 * n))."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1]


def tail(values: list[float], pct: float) -> float:
    """The ``pct`` percentile, refused when the sample cannot support it."""
    if not tail_supported(len(values), pct):
        raise ValueError(
            f"p{pct:g} needs {min_samples_for(pct)} samples, got {len(values)}"
        )
    return percentile(values, pct)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of an empty sample")
    return float(statistics.median(values))


def read_chars() -> int:
    """Bytes this process has read through read() calls so far, page-cache
    hits included (Linux ``/proc/self/io`` rchar, summed over threads)."""
    with open("/proc/self/io", "rb") as f:
        for line in f:
            if line.startswith(b"rchar:"):
                return int(line.split()[1])
    raise RuntimeError("/proc/self/io has no rchar line")


def calibrate() -> float:
    """Seconds a fixed single-threaded kernel takes now: seeded numpy Zipf
    draws and sorts plus a Python dict loop, the kinds of work the corpus
    generator and the oracle do."""
    t0 = time.perf_counter()
    rng = np.random.default_rng(0)
    acc = 0
    for _ in range(5):
        acc += int(np.sort(rng.zipf(1.3, 100_000))[-1] % 7)
    counts: dict[int, int] = {}
    for i in range(100_000):
        counts[i % 1000] = counts.get(i % 1000, 0) + i
    return time.perf_counter() - t0


def peak_rss_mb() -> float:
    """Peak resident set size of this process (Linux reports KiB)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
