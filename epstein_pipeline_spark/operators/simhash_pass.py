"""SimHash Hamming-ball pass (north_rule stage 2).

Replaces the reference's O(n^2) embedding-cosine semantic pass
(processors/dedup.py:404-464) with a scalable candidate join:
64-bit SimHash -> 4x16-bit band buckets -> exact Hamming verify
``bit_count(xor) <= d`` JVM-side. Pigeonhole guarantees recall 1.0 for
pairs within distance d <= bands-1.

Input is committed ``(url, simhash)`` signatures
(``plans.pipeline.signatures_stage``, gated by ``simhash_sigs``). One
band explosion (``simhash_band_rows``) and one verify/score projection
(``hamming_edges``) serve the batch pass below and incremental
ingest's touched-bucket pass alike. Score is 1 - d/SIMHASH_BITS (a
similarity in [0,1]) so downstream ordering/threshold semantics match
the other passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from epstein_pipeline_spark.config import SIMHASH_BITS, DedupConfig
from epstein_pipeline_spark.functions.simhash import (
    hamming_distance_expr,
    simhash_bands_expr,
)
from epstein_pipeline_spark.operators.lsh import bucket_pairs


def simhash_band_rows(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Explode (url, simhash) to (url, simhash, band_i, band_val); the
    signature rides along so verification needs no join back."""
    return sigs.select(
        "url",
        "simhash",
        F.posexplode(simhash_bands_expr("simhash", cfg.simhash_bands)).alias(
            "band_i", "band_val"
        ),
    )


def hamming_edges(bucket_pairs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url1, url2, score, method='simhash') from expanded bucket pairs
    ``p`` (structs ``p.a``/``p.b`` carrying url and simhash): Hamming
    verify BEFORE the dedup shuffle, then one row per pair. The
    dedup carries only the int distance (a hash aggregate); score and
    method are projected after it."""
    return (
        bucket_pairs.select(
            F.col("p.a.url").alias("url1"),
            F.col("p.b.url").alias("url2"),
            hamming_distance_expr(F.col("p.a.simhash"), F.col("p.b.simhash")).alias("_d"),
        )
        .filter(F.col("_d") <= cfg.hamming_max)
        .dropDuplicates(["url1", "url2"])
        .select(
            "url1",
            "url2",
            (F.lit(1.0) - F.col("_d") / F.lit(float(SIMHASH_BITS))).alias("score"),
            F.lit("simhash").alias("method"),
        )
    )


def simhash_pass(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url1, url2, score, method='simhash') pairs with Hamming <= d
    over committed (url, simhash) signatures.

    One shuffle: ``lsh.bucket_pairs`` over the band bucket with
    (url, simhash) members, under the oversized-bucket chain+star
    guard (boilerplate-identical pages make 16-bit bands hot keys)."""
    return hamming_edges(
        bucket_pairs(
            simhash_band_rows(sigs, cfg), ["band_i", "band_val"],
            F.struct("url", "simhash"), cfg.band_bucket_cap,
        ),
        cfg,
    )
