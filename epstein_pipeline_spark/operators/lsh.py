"""MinHash/LSH candidate generation and estimate scoring.

Reference: processors/dedup.py:332-398 — MinHashLSH(threshold=0.8,
num_perm=128) insert/query, then signature-Jaccard verify >= 0.80.
Spark restatement (SURVEY.md J4), one operator chain for every caller:
signatures (``plans.pipeline.signatures_stage``, gated by
``minhash_sigs``) -> ``band_rows`` -> ``candidate_pairs_from_bands``
-> ``score_candidates``. The batch plan, incremental ingest and the
planted entry queries all run it; the accept decision (exact Jaccard
near the threshold, LCS for the gray zone) is
``plans.pipeline.minhash_scored_stage``'s.

``bucket_pairs`` is the one bucket -> candidate-pair body of the
engine: MinHash bands here, SimHash bands (``simhash_pass``), the
incremental touched buckets (``plans.incremental``), blocked pairs
(``pairs.guarded_block_pairs``) and the RHP cosine pass
(``embed_pass``) all group, sort and expand through it; each caller
keeps only its own pre-filter and projection.

Skew guard (SURVEY.md §4.1): hot band buckets (boilerplate headers /
footers hash whole bands identically) blow up quadratically. Buckets
larger than the cap emit a sorted adjacent CHAIN + star to the
bucket min instead of all pairs — O(n) edges that keep every true
cluster connected (members of one bucket share a full band, i.e. are
already high-Jaccard candidates), at the price of a few extra verify
rejections rather than lost recall: rejected chain edges only matter
if the bucket mixes distinct clusters, which banding makes rare.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from epstein_pipeline_spark.config import DedupConfig
from epstein_pipeline_spark.functions.minhash import band_hashes_expr, signature_jaccard_expr


def band_rows(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Explode signatures to (url, band_i, band_hash) — banding is pure
    JVM (xxhash64 over signature slices)."""
    return sigs.select(
        "url",
        F.posexplode(band_hashes_expr("sig", cfg.bands, cfg.rows_per_band)).alias(
            "band_i", "band_hash"
        ),
    )


def bucket_pairs_expr(members: Column, cap: int) -> Column:
    """JVM-side pair expansion over a sorted bucket-member array.

    members: array<struct<...>> sorted by its first field (url). Small
    buckets (<= cap) expand to all C(n,2) pairs; oversized buckets emit
    a sorted adjacent CHAIN + star to the minimum element — O(n) edges
    that keep every true cluster connected (SURVEY.md §4.1 skew guard).

    Doing this with array higher-order functions means candidate
    generation is ONE shuffle (the groupBy) instead of the
    sizes-join + self-join + window cascade — the shuffle-count
    difference dominates wall-clock at every scale.
    """
    n = F.size(members)
    all_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(members, i + 1, n),  # slice clamps to array end
                lambda y: F.struct(F.element_at(members, i).alias("a"), y.alias("b")),
            ),
        )
    )
    chain = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(
            F.element_at(members, i).alias("a"), F.element_at(members, i + 1).alias("b")
        ),
    )
    star = F.transform(
        F.sequence(F.lit(3), F.greatest(n, F.lit(3))),
        lambda i: F.struct(
            F.element_at(members, 1).alias("a"), F.element_at(members, i).alias("b")
        ),
    )
    guarded = F.when(n <= cap, all_pairs).otherwise(
        F.concat(chain, F.when(n >= 3, star).otherwise(F.array()))
    )
    return guarded


def bucket_pairs(rows: DataFrame, keys: list[str], member: Column, cap: int) -> DataFrame:
    """Guarded pair expansion of every bucket: one row per emitted
    pair, a struct column ``p`` with fields ``a`` < ``b`` (members in
    sort order).

    groupBy ``keys`` -> ``array_sort(collect_list(member))`` -> buckets
    of >= 2 members -> ``bucket_pairs_expr`` -> explode. A struct
    ``member`` sorts by its first field, so capped buckets emit their
    chain+star edges in that field's order whatever rides along.
    ONE shuffle (the groupBy); callers filter and project ``p``."""
    return (
        rows.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(member)).alias("_ms"))
        .filter(F.size("_ms") >= 2)
        .select(F.explode(bucket_pairs_expr(F.col("_ms"), cap)).alias("p"))
    )


def candidate_pairs_from_bands(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Distinct (url1 < url2) candidate pairs from band buckets, with
    the oversized-bucket chain+star guard.

    One shuffle: ``bucket_pairs`` over the band key. (A two-pass
    hot-bucket precount — aggregate counts first, semi-join members
    back — was tried in round 6 and REJECTED by measurement: band keys
    are ~95% unique, so the count aggregate shuffles and
    hash-aggregates the same 2M rows the collect_list would, and the
    total went 4.7 s -> 10.3 s at 4 cores/128k. The exchange of (band,
    url) rows is the irreducible cost of banding; see
    OPTIMIZATION_r06.md.)

    Members aggregate as PLAIN url strings, not struct(url): a
    single-field struct adds nothing, and ``array_sort`` over structs
    goes through the interpreted row ordering while strings compare as
    raw binary — measured 7.9 -> 6.5 s at 4 cores/128k for the scored
    candidate chain, identical pair set (struct(url) ordering IS url
    ordering, so chain/star edges in capped buckets do not move)."""
    pairs = bucket_pairs(bands, ["band_i", "band_hash"], F.col("url"), cfg.band_bucket_cap)
    return pairs.select(
        F.col("p.a").alias("url1"), F.col("p.b").alias("url2")
    ).dropDuplicates(["url1", "url2"])


def score_candidates(pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Join signatures back and score every candidate with estimated
    Jaccard (reference mh1.jaccard, dedup.py:386), keeping the rows
    within the estimator margin: 0.10 below the LCS gray zone, so a
    pair whose exact Jaccard reaches the gray zone is not lost to
    estimate noise. Callers split accepted vs gray-zone.

    (A semi-join prefilter of the signature table on candidate urls —
    the shape that pays off for the TEXT attach join in
    verify.verify_pairs — was tried here in round 6 and
    REJECTED by measurement: each filtered side re-scans the signature
    parquet, and decoding the 128-slot arrays twice more cost more
    than the avoided join shuffles at both parallelism levels.)"""
    s1 = sigs.select(F.col("url").alias("url1"), F.col("sig").alias("_s1"))
    s2 = sigs.select(F.col("url").alias("url2"), F.col("sig").alias("_s2"))
    return (
        pairs.join(s1, "url1")
        .join(s2, "url2")
        .withColumn("score", signature_jaccard_expr(F.col("_s1"), F.col("_s2"), cfg.num_perm))
        .filter(F.col("score") >= cfg.lcs_gray_low - 0.10)
        .select("url1", "url2", "score")
    )
