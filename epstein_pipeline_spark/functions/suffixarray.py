"""Suffix-array LCS kernel — the literal north_rule stage-3 form
("suffix-array-based longest-common-substring filtering").

The default LCS kernel (operators/lcs.py, rolling-hash binary search)
computes the same quantity in O((n+m) log min(n,m)) fully vectorized;
this module provides the textbook suffix-array route as an alternate,
parity-tested backend:

  1. byte-level suffix array by prefix doubling (Manber–Myers,
     O(n log n) rounds of numpy lexsort — no Python per-suffix work),
  2. LCP array by Kasai's algorithm (O(n); a Python loop, acceptable
     because LCS verification only ever sees cfg.lcs_max_chars-
     truncated gray-zone texts),
  3. LCS(s1, s2) = max LCP between ADJACENT suffixes owned by
     different strings in the SA of s1 + SEP + s2 (SEP = a sentinel
     below every byte, so no common substring can span it).

The pipeline's verify pass runs the rolling-hash kernel; this one is
its spec twin: the hypothesis suite pins the two to each other and to
the O(n*m) DP.
"""

from __future__ import annotations

import numpy as np

__all__ = ["build_suffix_array", "kasai_lcp", "py_lcs_suffix_array"]


def build_suffix_array(a: np.ndarray) -> np.ndarray:
    """Suffix array of an int array by prefix doubling (numpy lexsort
    per round; ranks compacted each round so the loop terminates in
    <= log2(n) iterations)."""
    n = int(a.shape[0])
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.unique(a, return_inverse=True)[1].astype(np.int64)
    order = np.argsort(rank, kind="stable")
    k = 1
    while rank[order[-1]] != n - 1:
        second = np.full(n, -1, dtype=np.int64)
        second[: n - k] = rank[k:]
        order = np.lexsort((second, rank))
        key_r, key_s = rank[order], second[order]
        diff = np.ones(n, dtype=bool)
        diff[1:] = (key_r[1:] != key_r[:-1]) | (key_s[1:] != key_s[:-1])
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.cumsum(diff) - 1
        rank = new_rank
        k *= 2
    return order


def kasai_lcp(a: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """lcp[i] = longest common prefix of suffixes sa[i-1] and sa[i]
    (lcp[0] = 0). Kasai's O(n) scan."""
    n = int(a.shape[0])
    lcp = np.zeros(n, dtype=np.int64)
    if n == 0:
        return lcp
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    h = 0
    for i in range(n):
        r = rank[i]
        if r == 0:
            h = 0
            continue
        j = int(sa[r - 1])
        m = n - max(i, j)
        while h < m and a[i + h] == a[j + h]:
            h += 1
        lcp[r] = h
        if h:
            h -= 1
    return lcp


def py_lcs_suffix_array(s1: str, s2: str) -> int:
    """Longest common substring length via SA+LCP of s1+SEP+s2."""
    b1 = np.frombuffer(s1.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    b2 = np.frombuffer(s2.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    n1, n2 = int(b1.shape[0]), int(b2.shape[0])
    if n1 == 0 or n2 == 0:
        return 0
    joined = np.concatenate([b1, np.array([-1], dtype=np.int64), b2])
    sa = build_suffix_array(joined)
    lcp = kasai_lcp(joined, sa)
    owner1 = sa < n1          # suffix starts inside s1
    owner2 = sa > n1          # strictly after the sentinel -> inside s2
    # adjacent pairs from different owners (the sentinel suffix is
    # neither, and its LCP with anything is 0 anyway)
    cross = np.zeros(sa.shape[0], dtype=bool)
    cross[1:] = (owner1[1:] & owner2[:-1]) | (owner2[1:] & owner1[:-1])
    hits = lcp[cross]
    return int(hits.max()) if hits.size else 0
