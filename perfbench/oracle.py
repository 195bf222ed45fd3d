"""Independent checks of the engine's outputs, written without its code.

The distance check is a plain Levenshtein DP restricted to the diagonal
band |i - j| <= k: every alignment of cost <= k stays inside that band, so
the result is exact up to k and reads k + 1 beyond it. The engine's pair
distance counts edits of UTF-8 bytes, so callers pass encoded content.
"""

from __future__ import annotations


def banded_distance(a: bytes | str, b: bytes | str, k: int) -> int:
    """Levenshtein distance of ``a`` and ``b`` if <= ``k``, else ``k + 1``."""
    n, m = len(a), len(b)
    big = k + 1
    if abs(n - m) > k:
        return big
    w = 2 * k + 1
    # row i keeps D(i, j) at index d = j - i + k; cells off the band or
    # outside 0..m read ``big``, a lower bound there once clamped
    prev = [min(d - k, big) if 0 <= d - k <= m else big for d in range(w)]
    for i in range(1, n + 1):
        cur = [big] * w
        for d in range(w):
            j = i - k + d
            if j < 0 or j > m:
                continue
            if j == 0:
                cur[d] = min(i, big)
                continue
            v = prev[d] + (a[i - 1] != b[j - 1])
            if d + 1 < w:
                v = min(v, prev[d + 1] + 1)
            if d:
                v = min(v, cur[d - 1] + 1)
            cur[d] = min(v, big)
        prev = cur
    return prev[m - n + k]


def pair_recall(truth: list[tuple[int, int]], cluster_of: list) -> float:
    """Share of truth edges whose two rows share a cluster id."""
    if not truth:
        return 1.0
    hit = sum(cluster_of[a] == cluster_of[b] for a, b in truth)
    return hit / len(truth)


def partition(keys: list, clusters: list) -> frozenset:
    """The clustering as a set of member sets, independent of cluster ids."""
    groups: dict = {}
    for k, c in zip(keys, clusters):
        groups.setdefault(c, set()).add(k)
    return frozenset(frozenset(g) for g in groups.values())
