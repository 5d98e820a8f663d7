"""64-bit SimHash + Hamming-ball banding.

Replaces the reference's O(n^2) semantic cosine pass
(/root/reference/src/epstein_pipeline/processors/dedup.py:404-464) with
the scalable near-exact scheme from the north rule: 64-bit SimHash over
token features, 4x16-bit band equi-join (pigeonhole: any pair with
Hamming distance <= 3 shares at least one of 4 bands), then exact
``bit_count(s1 ^ s2) <= d`` verification JVM-side.

Feature weights are log1p-damped counts: raw counts let the shared
stopword mass dominate the bit sums and unrelated pages collapse into
the Hamming ball (the published SimHash deployments weight features by
idf for the same reason — log-damping needs no corpus pass and gives
the same head-suppression).

Determinism contract (round-6 correctness fix): weights are
FIXED-POINT INTEGERS (``round(log1p(count) * 2^20)``) and the per-bit
accumulator is an exact int64 sum, so the signature is a pure function
of the text — independent of feature order, batch boundaries, BLAS
kernel selection and host microarchitecture. The previous float
accumulator (``log1p(w) @ (2*bits-1)``, a BLAS dgemv) produced
EXACTLY-ZERO sums on structured near-dup corpora (planted case/space
variants share weight multisets), where the sign — and so the
signature bit — was decided by the dgemv's summation order. That order
changes with the BLAS kernel the host's CPU selects, which is why the
``simhash_dedup_planted`` golden checksum failed to reproduce across
sandbox hosts in rounds 4→5 and 5→6 while every integer-path pin held.
Measured on the sf0.01 planted corpus: 69/1438 docs had at least one
accumulator bit whose sign flipped under float summation reorder
(min |acc| ~ 1e-17, i.e. exact cancellation); the integer sum has no
such freedom (ties acc == 0 are deterministically bit=0).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from operator import itemgetter

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from epstein_pipeline_spark.config import SIMHASH_BITS

# fixed-point grid for log1p weights: 2^-20 quantization (~1e-6
# relative) is far below any meaningful feature-weight difference and
# kills cross-libm ULP drift; products stay well inside int64
# (w <= log1p(1e5)*2^20 ~ 1.2e7, 1e6 features -> |acc| <= ~1.2e13).
_W_SCALE = 1 << 20

_WTAB = np.zeros(1, dtype=np.int64)  # _WTAB[c] = weight of count c


def _weight_int(count: int) -> int:
    """round(log1p(count) * 2^20) — the single weight definition both
    the python oracle and the vectorized path share."""
    return int(round(math.log1p(count) * _W_SCALE))


def _weight_table(max_count: int) -> np.ndarray:
    global _WTAB
    if _WTAB.shape[0] <= max_count:
        _WTAB = np.fromiter(
            (_weight_int(c) for c in range(max_count + 1)), np.int64, max_count + 1
        )
    return _WTAB


def _token_hash(token: str) -> int:
    """Deterministic 64-bit token hash (blake2b, process-independent)."""
    return int.from_bytes(hashlib.blake2b(token.encode("utf-8"), digest_size=8).digest(), "little")


def py_simhash(text: str, ngram: int = 2) -> int:
    """Pure-Python SimHash oracle (signed int64) for tests — exact
    integer accumulation, same fixed-point weights as the UDF."""
    tokens = text.split()
    feats: dict[str, int] = {}
    for i, t in enumerate(tokens):
        feats[t] = feats.get(t, 0) + 1
        if ngram >= 2 and i + 1 < len(tokens):
            bg = t + " " + tokens[i + 1]
            feats[bg] = feats.get(bg, 0) + 1
    if not feats:
        return 0
    acc = [0] * 64
    for tok, c in feats.items():
        h = _token_hash(tok)
        w = _weight_int(c)
        for j in range(64):
            acc[j] += w if (h >> j) & 1 else -w
    sim = 0
    for j in range(64):
        if acc[j] > 0:
            sim |= 1 << j
    return np.int64(np.uint64(sim)).item()


def _np_simhash_batch(hs: np.ndarray, ws: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """numpy fallback for the native kernel: exact int64 accumulation
    (identical results — integer sums are order-independent)."""
    n = offs.shape[0] - 1
    out = np.zeros(n, dtype=np.int64)
    for d in range(n):
        lo, hi = offs[d], offs[d + 1]
        if lo == hi:
            continue
        h = hs[lo:hi]
        w = ws[lo:hi]
        bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
        # acc = sum w*(2b-1) = 2*(w@b) - sum(w), exact in int64
        acc = 2 * (w @ bits.astype(np.int64)) - w.sum()
        sim = np.packbits(acc > 0, bitorder="little").view(np.uint64)[0]
        out[d] = np.int64(sim)
    return out


def make_simhash_udf(ngram: int = 2):
    """pandas UDF: normalized text -> 64-bit SimHash as LongType.

    Vectorization strategy: per doc, C-speed ``Counter`` feature
    counting (unigrams + bigram tuples) and C-speed ``itemgetter``
    vocab lookups build concatenated (hash, weight) feature rows for
    the whole batch; one native (or numpy) kernel call does the exact
    integer bit accumulation for every doc at once. The per-batch
    vocab amortizes blake2b over web text's high token reuse.
    """

    @F.pandas_udf(T.LongType())
    def simhash_sig(texts: pd.Series) -> pd.Series:
        from epstein_pipeline_spark.functions import _native

        # full native path (ngram=2 only — the production config):
        # re-join the split tokens so the C tokenizer's single-space
        # contract holds for ANY input (normalized text is already in
        # that form; the join is a no-op copy then), extract unique
        # (blake2b, count) features in C, weight via the shared
        # fixed-point table, accumulate in C. Bit-identical to the
        # python path below (property-tested).
        if ngram == 2 and _native.get_lib() is not None:

            def canon(t: str) -> bytes:
                # the C tokenizer's contract is single-space-separated
                # text with no leading/trailing space. Pipeline inputs
                # are already normalized to that form, so re-joining is
                # an identity that costs ~3.3 s/128k docs per core —
                # the guard below (O(1) isascii + memchr scans) detects
                # the canonical form and skips it (0.9 s), falling back
                # to the join for any other caller's input.
                if (
                    t.isascii() and "  " not in t and "\t" not in t
                    and "\n" not in t and "\r" not in t
                    and "\x0b" not in t and "\x0c" not in t
                    # \x1c-\x1f are whitespace to str.split() too
                    and "\x1c" not in t and "\x1d" not in t
                    and "\x1e" not in t and "\x1f" not in t
                    and t[0] != " " and t[-1] != " "
                ):
                    return t.encode()
                return " ".join(t.split()).encode("utf-8")

            enc = [canon(t) if t else b"" for t in texts]
            feats = _native.simhash_features(enc)
            if feats is not None:
                hs_all, counts, fo = feats
                maxc = int(counts.max()) if counts.shape[0] else 1
                ws_all = _weight_table(maxc)[counts]
                out = _native.simhash_batch(hs_all, ws_all, fo)
                if out is None:
                    out = _np_simhash_batch(hs_all, ws_all, fo)
                return pd.Series(out)

        vocab: dict = {}

        def feat_rows(feats: Counter, is_bigram: bool) -> tuple[np.ndarray, np.ndarray]:
            nf = len(feats)
            keys = list(feats.keys())
            miss = set(keys).difference(vocab)
            if miss:
                for tok in miss:
                    s = tok[0] + " " + tok[1] if is_bigram else tok
                    vocab[tok] = _token_hash(s)
            if nf == 1:
                hvals = (vocab[keys[0]],)
            else:
                hvals = itemgetter(*keys)(vocab)
            hs = np.array(hvals, dtype=np.uint64)
            counts = np.fromiter(feats.values(), np.int64, nf)
            ws = _weight_table(int(counts.max()))[counts]
            return hs, ws

        hs_parts: list[np.ndarray] = []
        ws_parts: list[np.ndarray] = []
        lens = np.zeros(len(texts), dtype=np.int64)
        for row, t in enumerate(texts):
            if not t:
                continue
            tokens = t.split()
            if not tokens:
                continue
            uni = Counter(tokens)
            hs, ws = feat_rows(uni, False)
            hs_parts.append(hs)
            ws_parts.append(ws)
            n_f = hs.shape[0]
            if ngram >= 2 and len(tokens) > 1:
                bi = Counter(zip(tokens, tokens[1:]))
                hs2, ws2 = feat_rows(bi, True)
                hs_parts.append(hs2)
                ws_parts.append(ws2)
                n_f += hs2.shape[0]
            lens[row] = n_f
        offs = np.zeros(len(texts) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        hs_all = np.concatenate(hs_parts) if hs_parts else np.empty(0, np.uint64)
        ws_all = np.concatenate(ws_parts) if ws_parts else np.empty(0, np.int64)
        out = _native.simhash_batch(hs_all, ws_all, offs)
        if out is None:
            out = _np_simhash_batch(hs_all, ws_all, offs)
        return pd.Series(out)

    return simhash_sig


def simhash_bands_expr(
    sim_col: Column | str, bands: int = 4, bits: int = SIMHASH_BITS
) -> Column:
    """array<long> of band values: band i = bits [i*w, (i+1)*w) of the
    signature, extracted JVM-side with shiftrightunsigned + mask."""
    c = F.col(sim_col) if isinstance(sim_col, str) else sim_col
    width = bits // bands
    mask = (1 << width) - 1
    return F.array(
        *[F.shiftrightunsigned(c, i * width).bitwiseAND(F.lit(mask)) for i in range(bands)]
    )


def hamming_distance_expr(s1: Column, s2: Column) -> Column:
    """bit_count(s1 XOR s2) — JVM-side popcount."""
    return F.bit_count(s1.bitwiseXOR(s2))
