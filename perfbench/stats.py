"""Summary arithmetic: medians, the tail rule, spreads, amplification.

Kept free of Spark so the benchmark's tests can check it directly.
"""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values: list[float], beyond: int = TAIL_BEYOND
         ) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(percentile, value)``: with ``n`` samples sorted ascending
    that is the sample at rank ``n - beyond`` (1-based), i.e. the
    ``100 * (n - beyond) / n``-th percentile, which leaves exactly
    ``beyond`` samples beyond it. ``None`` when ``n <= beyond``: no
    percentile has that support.
    """
    n = len(values)
    if n <= beyond:
        return None
    s = sorted(values)
    rank = n - beyond
    return 100.0 * rank / n, s[rank - 1]


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median, with quartiles
    from ``statistics.quantiles(values, n=4)``."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def write_amp(bytes_written: int, records: int,
              bytes_per_record: float) -> float:
    """Bytes written to table storage per byte of user data, where a
    record's user bytes are the table's size per record right after its
    bulk load (so the bulk load itself is exactly 1.0)."""
    if records <= 0 or bytes_per_record <= 0:
        raise ValueError("write_amp needs records and a positive size")
    return bytes_written / (records * bytes_per_record)


def space_amp(bytes_on_disk: int, live_bytes: int) -> float:
    """Bytes under the table's base path per byte of its live slices."""
    if live_bytes <= 0:
        raise ValueError("space_amp needs live bytes")
    return bytes_on_disk / live_bytes
