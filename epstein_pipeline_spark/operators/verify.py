"""One verify pass over LSH candidates: exact shingle Jaccard, plus the
LCS ratio for the gray zone.

The reference verifies candidates with the MinHash *estimate*
(mh1.jaccard, processors/dedup.py:386) — an unbiased estimator of the
exact char-k shingle Jaccard with binomial noise sigma ~ 0.035 at
J=0.8/128 perms. Two independently-seeded engines therefore disagree
on borderline pairs no matter what; the reproducible "same config"
semantics is the exact Jaccard the estimator approximates. This
operator computes it for the (sublinear) candidate set: cost is
O(pairs * text_len) — at web scale the candidate volume after banding
is orders of magnitude below the corpus, so the exact verify is cheap
relative to the scan.

Pairs whose Jaccard lands in the gray zone [lcs_gray_low,
jaccard_threshold) also get their longest-common-substring ratio
(operators/lcs.py ``py_lcs_ratio``) in the same pass: the texts are
attached once and the Python worker round trip is paid once, where a
separate LCS stage would pay both again for a handful of pairs.

Runs as mapInPandas over pair+text rows; shingle sets are the same
vectorized byte-rolling-hash as the signature UDF (functions/minhash).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from epstein_pipeline_spark.config import DedupConfig
from epstein_pipeline_spark.functions.minhash import _shingle_hashes
from epstein_pipeline_spark.operators.lcs import py_lcs_ratio

# a MinHash estimate at or above this is kept as the score: at est >= 0.9
# the 128-perm estimator's miss probability for true J < 0.8 is
# ~Phi(-3.5), so exact arbitration is only needed below it
ESTIMATE_ACCEPT = 0.90

# the minhash_scored stage's rows, as committed
SCORED_SCHEMA = StructType(
    [
        StructField("url1", StringType()),
        StructField("url2", StringType()),
        StructField("score", DoubleType()),
        StructField("lcs_ratio", DoubleType()),
    ]
)


def _jaccard(s1: np.ndarray, s2: np.ndarray) -> float:
    """Jaccard of two sorted, deduped hash arrays (``_shingle_hashes``
    output): the intersection is a searchsorted probe of the smaller
    array into the larger, not the concat-and-sort np.intersect1d pays
    per pair."""
    if s1.shape[0] == 0 and s2.shape[0] == 0:
        return 1.0
    big, small = (s1, s2) if s1.shape[0] >= s2.shape[0] else (s2, s1)
    if small.shape[0] == 0:
        return 0.0
    idx = np.searchsorted(big, small)
    # idx == len(big) means small[i] > big[-1]; clamp and let the
    # equality test reject it
    np.minimum(idx, big.shape[0] - 1, out=idx)
    inter = int(np.count_nonzero(big[idx] == small))
    return inter / (s1.shape[0] + s2.shape[0] - inter)


def verify_pairs(cand: DataFrame, docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url1, url2, score, lcs_ratio) for candidate pairs (url1, url2,
    score) scored by the MinHash estimate.

    A row whose estimate is at least ESTIMATE_ACCEPT keeps it as its
    score; the others get the exact char-k shingle Jaccard, and those
    below cfg.lcs_gray_low are dropped. ``lcs_ratio`` is set on every
    kept row below cfg.jaccard_threshold (the gray rows) and null on
    the rest. ``docs`` holds (url, text) with text already normalized
    (the extract stage's column).
    """
    k, gray_low, threshold = cfg.shingle_k, cfg.lcs_gray_low, cfg.jaccard_threshold
    max_chars = cfg.lcs_max_chars
    # semi-join the corpus text table down to urls that appear in a
    # candidate pair before attaching texts: candidates are a sliver
    # of the corpus, and the two attach joins would otherwise shuffle
    # the full document-text table twice. The url set is a tiny
    # distinct aggregate; AQE broadcasts the semi-join when it fits.
    urls = (
        cand.select(F.col("url1").alias("url"))
        .unionByName(cand.select(F.col("url2").alias("url")))
        .distinct()
    )
    t = docs.select("url", F.col("text").alias("_t")).join(urls, "url", "left_semi")
    # explicit hash-repartition on url1 before the UDF, for two
    # reasons: (a) candidate pairs are chain+star shaped (one hub url1
    # fans out to many url2s), so url1-clustering makes the
    # per-partition shingle cache hit on the repeated side instead of
    # recomputing the hub's shingles in every partition the pairs
    # scattered to; (b) the pair set is small in BYTES but heavy in
    # per-row compute, and AQE's byte-based coalescing would otherwise
    # pack it into one partition and serialize the work (explicit
    # partition counts are exempt from coalescing). Exactly one task
    # per core — one wave: every Python task pays a fixed ~0.1 s even
    # when its partition is empty, so a second wave costs more than the
    # balance it buys (session.spread_to_cores).
    nparts = docs.sparkSession.sparkContext.defaultParallelism
    joined = (
        cand.select("url1", "url2", F.col("score").alias("_est"))
        .join(t.withColumnRenamed("url", "url2").withColumnRenamed("_t", "_t2"), "url2")
        .join(t.withColumnRenamed("url", "url1").withColumnRenamed("_t", "_t1"), "url1")
        .repartition(nparts, "url1")
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, np.ndarray] = {}

        def shingles(url: str, text: str) -> np.ndarray:
            s = cache.get(url)
            if s is None:
                s = _shingle_hashes(text or "", k)
                if len(cache) > 50_000:
                    cache.clear()
                cache[url] = s
            return s

        for pdf in batches:
            if len(pdf) == 0:
                continue
            scores = pdf["_est"].to_numpy(dtype=float, copy=True)
            keep = scores >= ESTIMATE_ACCEPT  # the estimate stands
            ratios = np.full(len(pdf), np.nan)  # NaN reaches Spark as null
            for i, (u1, u2, t1, t2) in enumerate(
                zip(pdf["url1"], pdf["url2"], pdf["_t1"], pdf["_t2"])
            ):
                if not keep[i]:
                    scores[i] = _jaccard(shingles(u1, t1), shingles(u2, t2))
                    keep[i] = scores[i] >= gray_low
                if keep[i] and scores[i] < threshold:
                    ratios[i] = py_lcs_ratio(t1, t2, max_chars)
            out = pdf[["url1", "url2"]].assign(score=scores, lcs_ratio=ratios)
            yield out[keep]

    return joined.mapInPandas(compute, schema=SCORED_SCHEMA)
