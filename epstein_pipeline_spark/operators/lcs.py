"""Within-cluster longest-common-substring verification (north_rule
stage 3).

The reference's analog is the semantic verify pass + the 80%
word-overlap gate in temporal dedup (processors/temporal_extractor.py:
305-310); the north rule asks for substring-level verification of
candidate pairs so false merges (e.g. shared boilerplate with distinct
bodies) are dropped before the final connected-components round.

Semantics: keep a candidate edge iff
    LCS(text1, text2) >= lcs_min_ratio * min(len(text1), len(text2))

Implementation: suffix-array-free O((n+m) log min(n,m)) LCS via binary
search over the answer length with numpy rolling-hash substring sets —
equivalent result to the suffix-array LCP scan, but fully vectorized
per pair and dependency-free. Runs as ``mapInPandas`` over the
pair+texts DataFrame (Arrow batches, no per-row Python UDF).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from epstein_pipeline_spark.config import DedupConfig

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


def _rolling_hashes(data: np.ndarray, k: int) -> np.ndarray:
    """One-shot convenience wrapper (tests use this directly)."""
    if data.shape[0] < k:
        return np.empty(0, dtype=np.uint64)
    return _window_hashes(_prefix_state(data), k)


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


def lcs_verify(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
    text_col: str = "text",
    kernel: str = "rolling_hash",
) -> DataFrame:
    """Filter candidate pairs by the LCS ratio; adds lcs_ratio column.

    Exact-method pairs skip the check (identical normalized content).
    Texts are truncated to cfg.lcs_max_chars for bounded per-pair cost.

    ``kernel``: 'rolling_hash' (default, vectorized binary search) or
    'suffix_array' (the literal north-rule form, functions/
    suffixarray.py) — parity-pinned to each other and to the DP oracle
    in tests; both run inside the same mapInPandas, so the plan is
    identical either way.
    """
    if kernel == "rolling_hash":
        lcs_fn = py_lcs_length
    elif kernel == "suffix_array":
        from epstein_pipeline_spark.functions.suffixarray import py_lcs_suffix_array

        lcs_fn = py_lcs_suffix_array
    else:
        raise ValueError(f"kernel must be 'rolling_hash' or 'suffix_array', got {kernel!r}")
    t = docs.select(
        F.col(id_col).alias("url"), F.substring(F.col(text_col), 1, cfg.lcs_max_chars).alias("_t")
    )
    # semi-join the text table down to urls in the gray-zone pair set
    # before the attach joins (same shape as exact_jaccard_pairs: the
    # pair set is a sliver of the corpus; without the prefilter both
    # joins shuffle the full truncated-text table). AQE broadcasts
    # the tiny distinct-url aggregate when it fits.
    urls = (
        pairs.select(F.col("url1").alias("url"))
        .unionByName(pairs.select(F.col("url2").alias("url")))
        .distinct()
    )
    t = t.join(urls, "url", "left_semi")
    # explicit round-robin repartition before the compute-bound UDF:
    # the joined pair set is small in BYTES, so AQE's coalescing packs
    # it into one or two partitions and the per-pair LCS work — the
    # actual cost — serializes onto one core. An explicit partition
    # count is exempt from AQE coalescing. One task per core, one
    # wave: each Python task costs a fixed 0.2-0.35 s of worker setup
    # even when empty, and a gray zone is often a handful of pairs.
    nparts = docs.sparkSession.sparkContext.defaultParallelism
    joined = (
        pairs.join(t.withColumnRenamed("url", "url1").withColumnRenamed("_t", "_t1"), "url1")
        .join(t.withColumnRenamed("url", "url2").withColumnRenamed("_t", "_t2"), "url2")
        .repartition(nparts)
    )
    min_ratio = cfg.lcs_min_ratio
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pairs.schema.fields
    ) + ", lcs_ratio double"

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ratios = np.ones(len(pdf))
            for i, (m, t1, t2) in enumerate(zip(pdf["method"], pdf["_t1"], pdf["_t2"])):
                if m == "exact" or not t1 or not t2:
                    continue
                lcs = lcs_fn(t1, t2)
                # both kernels measure the LCS in UTF-8 BYTES; the
                # denominator must too, or multi-byte text inflates the
                # ratio past 1.0 (len() counts chars)
                min_len = min(len(t1.encode("utf-8")), len(t2.encode("utf-8")))
                ratios[i] = lcs / max(1, min_len)
            out = pdf.drop(columns=["_t1", "_t2"]).assign(lcs_ratio=ratios)
            yield out[out["lcs_ratio"] >= min_ratio]

    return joined.mapInPandas(compute, schema=out_schema)


def lcs_rescue(
    gray_pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Accept gray-zone candidates (failed the Jaccard threshold) whose
    LCS ratio clears cfg.lcs_min_ratio — the boilerplate-wrapped-dup
    case: site chrome depresses shingle Jaccard while the body is one
    giant common substring. Output method='lcs'.

    gray_pairs needs (url1, url2, score).
    """
    scored = gray_pairs.select("url1", "url2", "score", F.lit("gray").alias("method"))
    kept = lcs_verify(scored, docs, cfg, id_col, text_col)
    return kept.select(
        "url1", "url2", F.round("lcs_ratio", 6).alias("score"), F.lit("lcs").alias("method")
    )


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
