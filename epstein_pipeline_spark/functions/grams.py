"""Token n-gram fingerprinting shared by the web-pipeline operators
(`operators/decontam.py`, `operators/dup_spans.py`).

Two docs' n-token grams compare equal iff their token sequences are
equal, fingerprinted as 64-bit longs so corpus text never enters a
shuffle. Three implementations were measured on the 2k-page bench
corpus (4 cores, n=50) before settling on the Arrow path:

1. ``transform(sequence(1, G), i -> hash(slice(toks, i, n)))`` —
   NEVER do this: the lambda body embeds ``toks =
   split(normalize(text))``, and Catalyst alias substitution
   (CollapseProject; unconditionally the ``size(..) > 0`` filter
   InferFiltersFromGenerate plants under a later explode) inlines the
   regex there, re-evaluating it PER GRAM ELEMENT — O(tokens²) per
   doc, observed as minutes on a 1 MB corpus.
2. Pure-JVM alias-substitution-safe forms — zip-of-n-shifted-slices
   with ``concat_ws`` (9 ms/page: per-gram string churn), per-gram
   ``aggregate`` fold over token-hash longs behind an
   ``explode(array(..))`` Generate barrier (2.8 ms/page), segment
   doubling via log n ``zip_with`` passes (1.8 ms/page). Higher-order
   functions never enter whole-stage codegen, so every element is an
   interpreted, boxed evaluation — the constant factor, not the
   asymptotics, is the wall.
3. **This module**: one vectorized-numpy pandas UDF (1.0 ms/page
   wall for the full scan→UDF→explode positions pass, n=50,
   4 cores — ~2× the segment-doubling form, and the remaining cost
   is dominated by the Python-regex normalize twin and the
   list-of-arrays→Arrow conversion, not the hashing).
   The normalized text is single-spaced, so the n-token gram at token
   i IS the byte span from token i's first byte to token i+n-1's
   last byte — one polynomial rolling-hash prefix array over the
   UTF-8 bytes per doc (the ``minhash._shingle_hashes`` trick, with
   the base inverted mod 2^64 so the recurrence becomes a cumsum)
   gives every gram hash with O(bytes + grams) numpy work and no
   per-gram Python objects. This is the architecture the MinHash
   signature path already uses: Arrow batches in, uint64 ndarrays
   inside, never per-row Python.

Fingerprints are deterministic across workers (no PYTHONHASHSEED
dependence) and sequence-sensitive; the final xorshift mix spreads
low-entropy byte patterns. Collision odds for 64-bit fingerprints
are negligible next to the pipeline's MinHash error budget. A doc
shorter than n tokens contributes its whole token span as the single
gram at pos 1 (the DuckDB oracles' ``toks[i:i+n-1]``
truncating-slice convention).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from epstein_pipeline_spark.functions.text import py_normalize_text

GRAMS_COL = "__grams"
N_TOKENS_COL = "__n_tokens"

_BASE = np.uint64(1_000_003)
# modular inverse of _BASE mod 2^64 (odd base -> invertible); lets
# P[i] = P[i-1]*B + x[i] vectorize as cumsum(x * B^-i) * B^i
_BASE_INV = np.uint64(pow(1_000_003, -1, 1 << 64))
_EMPTY_GRAM = np.int64(-0x61C8864680B583EB)  # sentinel for empty docs


def _mix(h: np.ndarray) -> np.ndarray:
    h ^= h >> np.uint64(33)
    with np.errstate(over="ignore"):
        h *= np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)
    return h


def _doc_gram_hashes(norm: str, n: int) -> np.ndarray:
    """int64 fingerprints of the NORMALIZED doc's n-token grams, in
    token order (G = max(T - n + 1, 1); index i-1 = gram starting at
    token i)."""
    data = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    nbytes = data.shape[0]
    if nbytes == 0:
        return np.array([_EMPTY_GRAM], dtype=np.int64)
    with np.errstate(over="ignore"):
        # prefix hash P[i] = hash of bytes 0..i (poly base B mod 2^64)
        binv_pow = np.cumprod(np.full(nbytes, _BASE_INV, dtype=np.uint64))
        b_pow = np.cumprod(np.full(nbytes, _BASE, dtype=np.uint64))
        prefix = np.cumsum(data * binv_pow, dtype=np.uint64) * b_pow
        # token i spans bytes starts[i]..ends[i] (normalized text is
        # single-spaced: spaces are exactly the token separators)
        spaces = np.flatnonzero(data == np.uint64(32))
        starts = np.concatenate(([0], spaces + 1))
        ends = np.concatenate((spaces - 1, [nbytes - 1]))
        t_count = starts.shape[0]
        g = max(t_count - n + 1, 1)
        lo = starts[:g]
        hi = ends[np.minimum(np.arange(g) + n - 1, t_count - 1)]
        # span hash = P[hi] - P[lo-1] * B^(hi-lo+1)
        span = prefix[hi].copy()
        has_prev = lo > 0
        span[has_prev] -= prefix[lo[has_prev] - 1] * b_pow[hi[has_prev] - lo[has_prev]]
    return _mix(span).view(np.int64)


_GRAMS_SCHEMA = T.StructType(
    [
        T.StructField("grams", T.ArrayType(T.LongType())),
        T.StructField("n_tokens", T.IntegerType()),
    ]
)


def _make_grams_udf(n: int):
    @F.pandas_udf(_GRAMS_SCHEMA)
    def grams_udf(texts: pd.Series) -> pd.DataFrame:
        grams, n_tokens = [], []
        for t in texts:
            norm = py_normalize_text(t or "")
            grams.append(_doc_gram_hashes(norm, n))
            # ''.split(' ') == [''] — one (empty) token, matching the
            # JVM split() and the DuckDB string_split() conventions
            n_tokens.append(norm.count(" ") + 1)
        return pd.DataFrame({"grams": grams, "n_tokens": n_tokens})

    return grams_udf


def with_gram_hashes(
    df: DataFrame,
    text_col: str,
    n: int,
    with_pos: bool = False,
    distinct: bool = False,
) -> DataFrame:
    """Adds ``__grams`` (array<long>, or array<struct<gram:long,
    pos:int>> when ``with_pos``) and ``__n_tokens`` (int). ``distinct``
    de-duplicates gram values (ignored when ``with_pos`` — positions
    make every element unique)."""
    out = df.withColumn("__g", _make_grams_udf(n)(F.col(text_col)))
    grams = F.col("__g.grams")
    if with_pos:
        grams = F.transform(
            grams,
            lambda g, i: F.struct(g.alias("gram"), (i + F.lit(1)).alias("pos")),
        )
    elif distinct:
        grams = F.array_distinct(grams)
    return (
        out.withColumn(GRAMS_COL, grams)
        .withColumn(N_TOKENS_COL, F.col("__g.n_tokens"))
        .drop("__g")
    )
