"""Longest-common-substring kernels (north_rule stage 3).

The reference's analog is the semantic verify pass + the 80%
word-overlap gate in temporal dedup (processors/temporal_extractor.py:
305-310); the north rule asks for substring-level verification of
candidate pairs so boilerplate-wrapped duplicates (site chrome
depresses shingle Jaccard while the body is one giant common
substring) can be rescued from the Jaccard gray zone.

Semantics: a gray-zone pair is rescued iff
    LCS(text1, text2) >= lcs_min_ratio * min(len(text1), len(text2))
over the first ``lcs_max_chars`` characters, lengths in UTF-8 bytes
(``py_lcs_ratio``). The verify operator (operators/verify.py) calls it
in the same Python pass as the exact Jaccard.

Implementation: suffix-array-free O((n+m) log min(n,m)) LCS via binary
search over the answer length with numpy rolling-hash substring sets —
the same result as the suffix-array LCP scan (functions/suffixarray.py)
and the O(n*m) DP, pinned to both in tests.
"""

from __future__ import annotations

import numpy as np

_B = np.uint64(1_000_003)


# B is odd, so it is invertible mod 2^64; _INV_B * _B == 1 (mod 2^64)
_INV_B = np.uint64(pow(int(_B), -1, 1 << 64))


def _prefix_state(data: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """k-independent prefix state for O(n)-per-probe window hashing:
    (exclusive prefix sums of a[i] * B^(n-1-i), inverse powers of B).
    Computed ONCE per string; the LCS binary search probes ~log n
    window lengths and each probe only pays the final slice multiply."""
    n = data.shape[0]
    with np.errstate(over="ignore"):
        powers = np.empty(n + 1, dtype=np.uint64)
        powers[0] = np.uint64(1)
        if n:
            np.multiply.accumulate(np.full(n, _B, dtype=np.uint64), out=powers[1:])
        inv_powers = np.empty(n + 1, dtype=np.uint64)
        inv_powers[0] = np.uint64(1)
        if n:
            np.multiply.accumulate(np.full(n, _INV_B, dtype=np.uint64), out=inv_powers[1:])
        c = data * powers[::-1][1:]  # a[i] * B^(n-1-i)
        s = np.zeros(n + 1, dtype=np.uint64)
        np.add.accumulate(c, out=s[1:])
    return s, inv_powers


def _window_hashes(state: tuple[np.ndarray, np.ndarray], k: int) -> np.ndarray:
    """uint64 polynomial hashes of every length-k window (mod 2^64)
    from a precomputed prefix state.

    With c[i] = a[i] * B^(n-1-i) and S its exclusive prefix sum, the
    canonical window hash w[i] = sum a[i+j] * B^(k-1-j) satisfies
    (S[i+k] - S[i]) = B^(n-k-i) * w[i], so w[i] recovers by one
    elementwise multiply with the inverse powers — the naive (n,k)
    windowed multiply is O(n*k) and made the LCS binary search
    quadratic in text length."""
    s, inv_powers = state
    n = s.shape[0] - 1
    if n < k:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return (s[k:] - s[: n - k + 1]) * inv_powers[: n - k + 1][::-1]


def py_lcs_length(s1: str, s2: str) -> int:
    """Longest common substring length (hash binary search; verified
    against the O(n*m) DP in tests)."""
    a = np.frombuffer(s1.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    b = np.frombuffer(s2.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    if a.shape[0] > b.shape[0]:
        a, b = b, a
    lo, hi = 0, a.shape[0]  # invariant: lcs >= lo, <= hi
    sa, sb = _prefix_state(a), _prefix_state(b)

    def has_common(k: int) -> bool:
        if k == 0:
            return True
        ha = _window_hashes(sa, k)
        if ha.shape[0] == 0:
            return False
        hb = _window_hashes(sb, k)
        return bool(np.isin(ha, hb, assume_unique=False).any())

    while lo < hi:
        mid = (lo + hi + 1) // 2
        if has_common(mid):
            lo = mid
        else:
            hi = mid - 1
    return lo


def py_lcs_ratio(t1: str | None, t2: str | None, max_chars: int) -> float:
    """LCS(t1[:max_chars], t2[:max_chars]) / min of their UTF-8 byte
    lengths; 1.0 when either truncated text is empty or null.

    ``t[:max_chars]`` counts code points, as Spark's ``substring`` does.
    The kernel measures the LCS in UTF-8 BYTES, so the denominator
    must too, or multi-byte text inflates the ratio past 1.0 (``len``
    counts chars)."""
    t1, t2 = (t1 or "")[:max_chars], (t2 or "")[:max_chars]
    if not t1 or not t2:
        return 1.0
    min_len = min(len(t1.encode("utf-8")), len(t2.encode("utf-8")))
    return py_lcs_length(t1, t2) / max(1, min_len)


def py_lcs_dp(s1: str, s2: str) -> int:
    """O(n*m) DP oracle for tests."""
    if not s1 or not s2:
        return 0
    prev = [0] * (len(s2) + 1)
    best = 0
    for i in range(1, len(s1) + 1):
        cur = [0] * (len(s2) + 1)
        c1 = s1[i - 1]
        for j in range(1, len(s2) + 1):
            if c1 == s2[j - 1]:
                cur[j] = prev[j - 1] + 1
                if cur[j] > best:
                    best = cur[j]
        prev = cur
    return best
