"""Pure helpers: summary statistics and Spark SQL-metric string parsing.

Nothing here touches Spark, so the benchmark's own tests run these
without a session.
"""

from __future__ import annotations

import re
import statistics

# Candidate percentiles for a tail figure, highest first.
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def median(values):
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail_percentile(n: int) -> float | None:
    """The highest percentile that has at least ten samples beyond it.

    With ``n`` samples, ``n * (1 - p/100)`` of them lie beyond the p-th
    percentile. Returns None when even the median has fewer than ten
    samples above it.
    """
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= 10 - 1e-9:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (an observed value, never interpolated)."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))  # ceil(n * p / 100)
    return ordered[int(rank) - 1]


def cpu_ticks(line: str | None = None) -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs since boot, from the ``cpu``
    line of ``/proc/stat`` (read now unless given)."""
    if line is None:
        with open("/proc/stat") as fh:
            line = fh.readline()
    user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in line.split()[1:9])
    return user + nice + system + irq + softirq, steal


def without_steal(wall: float, before: tuple[int, int], after: tuple[int, int]) -> float:
    """Wall time with the host's steal taken out.

    On a shared host the hypervisor runs other machines on this one's
    CPUs; the kernel counts the ticks in which a CPU was ready to run but
    held off as steal. Over an interval whose CPUs ran for ``busy`` ticks
    and were held off for ``steal``, the work got ``busy / (busy + steal)``
    of the CPU time it asked for, so it would have taken
    ``wall * busy / (busy + steal)`` had nothing been stolen. With no steal
    this is the wall time.
    """
    busy, steal = after[0] - before[0], after[1] - before[1]
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_TIME_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Parse a value from ``SQLAppStatusStore.executionMetrics``.

    Sizes come back in bytes, timings in milliseconds, counts as is.
    Per-task metrics read ``"total (min, med, max (stageId: taskId))\\n
    216.9 KiB (49.3 KiB, ...)"``; the total is the first value on the
    second line. Driver-side metrics are a bare value such as ``"9 ms"``.
    """
    body = text.split("\n", 1)[1] if text.startswith("total (") else text
    m = _VALUE.match(body)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME_MS:
        return number * _TIME_MS[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
