"""Fuzzy string ratio columns.

Reference uses rapidfuzz ``fuzz.ratio`` (InDel-based,
/root/reference/src/epstein_pipeline/processors/dedup.py:313) and
``fuzz.token_sort_ratio`` (processors/confidence.py:98).

``indel_ratio_udf`` has exact rapidfuzz ``fuzz.ratio`` semantics:
``1 - indel_dist/(la+lb) = 2*LCS(a,b)/(la+lb)`` (InDel distance =
Levenshtein restricted to insert/delete). Vectorized numpy DP per
Arrow batch; callers prune with the JVM ``levenshtein`` bound first
(indel >= lev, so ``1 - lev/(la+lb)`` is an upper bound on the ratio)
so the Python kernel only sees near-matches. ``token_sort_ratio_expr``
is the same ratio over token-sorted normalized strings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from epstein_pipeline_spark.functions.text import normalize_text_expr


def py_indel_ratio(a: str, b: str) -> float:
    """rapidfuzz ``fuzz.ratio``/100: 2*LCS/(la+lb); 1.0 for two empty
    strings (rapidfuzz returns 100.0 there).

    LCS row update uses the prefix-max identity
    ``new[j] = max(new[j-1], old[j], old[j-1]+eq)`` ==
    ``new = cummax(max(old, shift(old)+eq))`` so each DP row is one
    vectorized numpy pass instead of a per-cell Python loop.
    """
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    if la > lb:  # iterate over the SHORTER string: fewer numpy passes
        a, b, la, lb = b, a, lb, la
    bcodes = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    old = np.zeros(lb + 1, dtype=np.int32)
    t = np.empty(lb + 1, dtype=np.int32)
    t[0] = 0
    for ch in a:
        t[1:] = np.maximum(old[1:], old[:-1] + (bcodes == ord(ch)))
        old = np.maximum.accumulate(t)
    return 2.0 * float(old[-1]) / (la + lb)


@F.pandas_udf(T.DoubleType())
def indel_ratio_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(
        [py_indel_ratio(a or "", b or "") for a, b in zip(s1, s2)],
        dtype="float64",
    )


def token_sort_expr(col: Column | str) -> Column:
    """Sort whitespace tokens and rejoin (rapidfuzz token_sort prep);
    inputs are normalized first, matching the reference feeding its
    normalized mention into ``fuzz.token_sort_ratio``
    (confidence.py:84,98)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_sort(F.split(normalize_text_expr(c), " ")), " ")


def py_token_sort_ratio(a: str, b: str) -> float:
    """rapidfuzz ``fuzz.token_sort_ratio``/100 (3.x, processor=None):
    whitespace-split, code-point sort, single-space join, InDel ratio.
    Spark's array_sort on strings compares UTF-8 bytes == code-point
    order, so the twin and the column form agree on any input."""
    return py_indel_ratio(" ".join(sorted(a.split())), " ".join(sorted(b.split())))


def token_sort_ratio_expr(a: Column, b: Column) -> Column:
    """EXACT ``fuzz.token_sort_ratio`` semantics (confidence.py:98):
    InDel ratio over the token-sorted normalized strings."""
    return indel_ratio_udf(token_sort_expr(a), token_sort_expr(b))
