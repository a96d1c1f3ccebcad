"""Summary statistics, host conditions and memory readings (no Spark)."""

from __future__ import annotations

import math
import os
import statistics
import time


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``beyond`` samples
    above it: with the values sorted ascending, the value at index
    ``n - beyond - 1``. Returns ``(value, percentile, samples_beyond)``;
    the percentile is that index as a share of ``n - 1``.

    Below ``2·beyond + 1`` samples that percentile would fall under the
    median, so the maximum is returned instead (percentile 100, no sample
    beyond it).
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n < 2 * beyond + 1:
        return xs[-1], 100.0, 0
    idx = n - beyond - 1
    return xs[idx], 100.0 * idx / (n - 1), beyond


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def latency_summary(samples: list[tuple[str, float]]) -> dict:
    """End-to-end latency figures over ``(query, seconds)`` samples."""
    walls = [s for _, s in samples]
    per_query: dict[str, list[float]] = {}
    for name, s in samples:
        per_query.setdefault(name, []).append(s)
    value, pct, beyond = tail(walls)
    return {
        "latency_p50_s": statistics.median(walls),
        "latency_tail_s": value,
        "tail_percentile": pct,
        "tail_samples_beyond": beyond,
        "samples": len(walls),
        "latency_geomean_s": geomean(
            [statistics.median(v) for v in per_query.values()]
        ),
        "distinct_queries": len(per_query),
    }


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: a contended or throttled
    core reads slower, so the figure before and after a run shows
    whether the host was quiet."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """Aggregate ``/proc/stat`` CPU ticks (user nice system idle iowait irq
    softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


_BUSY = (0, 1, 2, 5, 6)  # user nice system irq softirq
_STEAL = 7


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[_STEAL] / sum(delta) if sum(delta) else 0.0


class Stopwatch:
    """Wall time, and wall time with the hypervisor's steal removed.

    On a shared host the hypervisor takes runnable time away from the
    guest's busy CPUs (steal); a run then takes longer for reasons outside
    the program. Over the interval, ``busy / (busy + steal)`` of the busy
    CPUs' runnable time was theirs, so ``wall · busy / (busy + steal)`` is
    the time the interval would have taken without steal. It equals the
    wall time when nothing was stolen.
    """

    def __init__(self):
        self.t0 = time.perf_counter()
        self.ticks = cpu_ticks()

    def stop(self) -> tuple[float, float]:
        """``(wall, unstolen)`` seconds since construction."""
        wall = time.perf_counter() - self.t0
        delta = [a - b for a, b in zip(cpu_ticks(), self.ticks)]
        busy = sum(delta[i] for i in _BUSY)
        steal = delta[_STEAL]
        return wall, (wall * busy / (busy + steal) if busy + steal else wall)


def host_conditions() -> dict:
    return {"loadavg": list(os.getloadavg()), "cpu_probe_s": cpu_probe()}


def total_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def peak_rss_bytes(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of a live process."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")
