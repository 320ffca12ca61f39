"""Summary statistics shared by the benchmark and its tracer."""

from __future__ import annotations

import contextlib
import time

#: a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def cpu_ticks() -> tuple[int, int, int]:
    """(steal, idle, total) jiffies of all CPUs since boot, from
    /proc/stat. Steal is time the hypervisor ran other machines while
    this one had work to do; idle includes iowait."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    f += [0] * (8 - len(f))
    return f[7], f[3] + f[4], sum(f)


def steal_share(before, after) -> float:
    """Share of the busy CPU time between two ``cpu_ticks()`` readings
    that the hypervisor took away."""
    steal, idle, total = (b - a for a, b in zip(before, after))
    return steal / max(total - idle, 1)


@contextlib.contextmanager
def timed():
    """Time the block. Yields a dict that gets, on exit, ``wall`` in
    seconds and ``steal``, the share of busy CPU time the hypervisor took
    meanwhile."""
    out: dict = {}
    c0, t0 = cpu_ticks(), time.perf_counter()
    try:
        yield out
    finally:
        out["wall"] = time.perf_counter() - t0
        out["steal"] = steal_share(c0, cpu_ticks())


def run_time(m: dict) -> float:
    """The wall of a ``timed()`` block less the share the hypervisor took:
    what the block would have taken with the machine's CPUs to itself."""
    return m["wall"] * (1.0 - m["steal"])


def tail(xs) -> tuple[float, float] | None:
    """Highest percentile with at least ``TAIL_MIN_BEYOND`` samples above
    it, as ``(percentile, value)``; None when there are too few samples.

    With n sorted samples the value of rank r (1-based) has n - r samples
    beyond it, so the highest admissible rank is n - 10 and the
    percentile is 100 * (n - 10) / n (p75 for 40 samples).
    """
    n = len(xs)
    if n <= TAIL_MIN_BEYOND:
        return None
    rank = n - TAIL_MIN_BEYOND
    return 100.0 * rank / n, float(sorted(xs)[rank - 1])


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover
    (children are clipped to the parent's interval)."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in children if e > start and s < end
    ]
    return (end - start) - covered(clipped)
