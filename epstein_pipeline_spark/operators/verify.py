"""Exact shingle-Jaccard verification of LSH candidates.

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

Runs as mapInPandas over pair+text rows; shingle sets are the same
vectorized byte-rolling-hash as the signature UDF (functions/minhash).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from epstein_pipeline_spark.config import DedupConfig
from epstein_pipeline_spark.functions.minhash import _shingle_hashes
from epstein_pipeline_spark.functions.text import normalize_text_expr


def exact_jaccard_pairs(
    cand: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
    text_col: str = "text",
    min_keep: float | None = None,
    pre_normalized: bool = False,
) -> DataFrame:
    """(url1, url2, score=exact jaccard) for candidate pairs.

    ``min_keep`` drops pairs below the bound early (default:
    cfg.lcs_gray_low, keeping the gray zone for the LCS stage).
    ``pre_normalized=True`` skips the normalize pass over the whole
    docs table (the pipeline's extract stage already normalized —
    normalize is idempotent, so this is a pure cost cut there).
    """
    if min_keep is None:
        min_keep = cfg.lcs_gray_low
    k = cfg.shingle_k
    tcol = F.col(text_col) if pre_normalized else normalize_text_expr(text_col)
    t = docs.select(F.col(id_col).alias("url"), tcol.alias("_t"))
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
    t = t.join(urls, "url", "left_semi")
    # explicit hash-repartition on url1 before the UDF, for two
    # reasons: (a) candidate pairs are chain+star shaped (one hub url1
    # fans out to many url2s), so url1-clustering makes the
    # per-partition shingle cache hit on the repeated side instead of
    # recomputing the hub's shingles in every partition the pairs
    # scattered to; (b) the pair set is small in BYTES but heavy in
    # per-row compute, and AQE's byte-based coalescing would otherwise
    # pack it into one partition and serialize the work (explicit
    # partition counts are exempt from coalescing). Exactly one task
    # per core — one wave: every Python task pays a fixed 0.2-0.35 s
    # of worker setup even when its partition is empty, so a second
    # wave costs more than the balance it buys (session.spread_to_cores).
    nparts = docs.sparkSession.sparkContext.defaultParallelism
    joined = (
        cand.select("url1", "url2")
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
            scores = np.zeros(len(pdf))
            for i, (u1, u2, t1, t2) in enumerate(
                zip(pdf["url1"], pdf["url2"], pdf["_t1"], pdf["_t2"])
            ):
                s1, s2 = shingles(u1, t1), shingles(u2, t2)
                if s1.shape[0] == 0 and s2.shape[0] == 0:
                    scores[i] = 1.0
                    continue
                # _shingle_hashes returns np.unique output — sorted,
                # deduped — so the intersection is a searchsorted
                # probe of the smaller array into the larger, not the
                # concat-and-sort np.intersect1d pays per pair
                big, small = (s1, s2) if s1.shape[0] >= s2.shape[0] else (s2, s1)
                if small.shape[0] == 0:
                    inter = 0
                else:
                    idx = np.searchsorted(big, small)
                    # idx == len(big) means small[i] > big[-1]; clamp
                    # and let the equality test reject it
                    np.minimum(idx, big.shape[0] - 1, out=idx)
                    inter = int(np.count_nonzero(big[idx] == small))
                union = s1.shape[0] + s2.shape[0] - inter
                scores[i] = inter / union if union else 0.0
            out = pdf[["url1", "url2"]].assign(score=scores)
            yield out[out["score"] >= min_keep]

    return joined.mapInPandas(compute, schema="url1 string, url2 string, score double")
