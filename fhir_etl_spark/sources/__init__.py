"""Custom sources: PySpark 4 Python DataSources for the reference's
paginated-REST and FTP-listing scans, plus staged-file readers."""

from __future__ import annotations


def contiguous_ranges(n: int, parts: int) -> list[range]:
    """``0..n`` cut into ``min(n, parts)`` contiguous ranges, in order, whose
    sizes differ by at most one; ``n == 0`` gives one empty range.

    The REST and FTP readers plan one range per core: a Python DataSource
    task pays a worker round trip and a per-partition planning cost, so a
    few large tasks scan faster than many small ones, and ranges in order
    keep partition-major row order equal to page or listing order."""
    k = max(1, min(n, parts))
    q, r = divmod(n, k)
    bounds = [i * q + min(i, r) for i in range(k + 1)]
    return [range(a, b) for a, b in zip(bounds, bounds[1:])]
