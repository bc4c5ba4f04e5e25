"""Pure helpers of the benchmark: percentiles, span self time, query
order and write amplification. No Spark here, so ``perfbench/tests`` can
check every rule in milliseconds.

Results are hashed with ``tools/_oracle_hash.py``, the repository's one
canonicalisation shared with the oracle gates, re-exported here as
``hash_rows``."""

from __future__ import annotations

import os
import random
import statistics
import sys
from collections import defaultdict

sys.path.append(os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from _oracle_hash import hash_rows  # noqa: E402,F401

# Percentiles a tail may be reported at, lowest first.
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def quantile(values, p: float) -> float:
    """Linear-interpolated p-th percentile (0 <= p <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least MIN_BEYOND of ``n``
    samples beyond it; the median when even that has fewer."""
    best = PERCENTILE_LADDER[0]
    for p in PERCENTILE_LADDER:
        if n * (100.0 - p) >= MIN_BEYOND * 100.0 - 1e-6:
            best = p
    return best


def tail(values) -> tuple[float, float]:
    """(percentile, value) of the reportable tail of ``values``."""
    p = tail_percentile(len(values))
    return p, quantile(values, p)


def median(values) -> float:
    return statistics.median(values)


def _union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def covered(start: float, end: float, children) -> float:
    """Length of [start, end] covered by the union of child intervals."""
    clipped = [(max(a, start), min(b, end)) for a, b in children]
    return _union_length([(a, b) for a, b in clipped if b > a])


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(start, end, children)


def exclusive_times(spans) -> list[float]:
    """Each span's share of wall time when every instant is charged to
    the deepest span open at it (the latest started of equally deep
    ones). ``spans`` lists (parent index or None, start, end), parents
    before children; a span is clipped to its parent. So the shares of
    a root's spans add up to the root's duration, even where sibling
    spans overlap (sink commits on streaming threads)."""
    n = len(spans)
    depth, top, iv = [0] * n, [0] * n, [(0.0, 0.0)] * n
    for i, (p, a, b) in enumerate(spans):
        if p is None:
            top[i], iv[i] = i, (a, b)
        else:
            depth[i], top[i] = depth[p] + 1, top[p]
            iv[i] = (max(a, iv[p][0]), min(b, iv[p][1]))
    by_root: dict[int, list[int]] = defaultdict(list)
    for i in range(n):
        if iv[i][1] > iv[i][0]:
            by_root[top[i]].append(i)
    out = [0.0] * n
    for members in by_root.values():
        cuts = sorted({t for i in members for t in iv[i]})
        for a, b in zip(cuts, cuts[1:]):
            open_ = [i for i in members if iv[i][0] <= a and iv[i][1] >= b]
            owner = max(open_, key=lambda i: (depth[i], iv[i][0], i))
            out[owner] += b - a
    return out


def seeded_order(names, seed: int) -> list[str]:
    """The workload's query order for ``seed``: a shuffle of the sorted
    names, so it depends on the seed and the set, never on dict order."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def write_amp(written_bytes: int, live_bytes: int) -> float:
    """Bytes written under the table directories per byte live in the
    final snapshots."""
    if live_bytes <= 0:
        raise ValueError("no live bytes")
    return written_bytes / live_bytes
