"""SimHash Hamming-ball pass (north_rule stage 2).

Replaces the reference's O(n^2) embedding-cosine semantic pass
(processors/dedup.py:404-464) with a scalable candidate join:
64-bit SimHash -> 4x16-bit band equi-join -> exact Hamming verify
``bit_count(xor) <= d`` JVM-side. Pigeonhole guarantees recall 1.0 for
pairs within distance d <= bands-1.

Score is reported as 1 - d/64 (a similarity in [0,1]) so downstream
ordering/threshold semantics match the other passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from epstein_pipeline_spark.config import DedupConfig
from epstein_pipeline_spark.functions.simhash import (
    hamming_distance_expr,
    make_simhash_udf,
    simhash_bands_expr,
)
from epstein_pipeline_spark.functions.text import normalize_text_expr
from epstein_pipeline_spark.session import spread_to_cores


def simhash_signatures(
    df: DataFrame, cfg: DedupConfig, id_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """(url, simhash: long) for docs passing the length gate
    (reference dedup.py:422-423: len > 50)."""
    udf = make_simhash_udf()
    # one wave of Python tasks — same guard as minhash_signatures
    return (
        spread_to_cores(
            df.filter(F.length(text_col) > cfg.simhash_min_len).select(
                F.col(id_col).alias("url"), normalize_text_expr(text_col).alias("_norm")
            )
        )
        .withColumn("simhash", udf("_norm"))
        .drop("_norm")
    )


def simhash_pass(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
    text_col: str = "text",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(url1, url2, score, method='simhash') pairs with Hamming <= d.

    Pass precomputed ``sigs`` (url, simhash) to avoid re-running the
    signature UDF (the pipeline commits signatures as a stage)."""
    from epstein_pipeline_spark.operators.lsh import bucket_pairs_expr

    if sigs is None:
        sigs = simhash_signatures(df, cfg, id_col, text_col)
    bands = sigs.select(
        "url",
        "simhash",
        F.posexplode(simhash_bands_expr("simhash", cfg.simhash_bands, cfg.simhash_bits)).alias(
            "band_i", "band_val"
        ),
    )

    # one shuffle: groupBy band bucket -> sorted (url, simhash) member
    # array -> JVM pair expansion with the oversized-bucket chain+star
    # guard (boilerplate-identical pages make 16-bit bands hot keys).
    # Signatures travel inside the member structs, so Hamming
    # verification needs NO join back.
    buckets = (
        bands.groupBy("band_i", "band_val")
        .agg(F.array_sort(F.collect_list(F.struct("url", "simhash"))).alias("_ms"))
        .filter(F.size("_ms") >= 2)
    )
    pairs = (
        buckets.select(F.explode(bucket_pairs_expr(F.col("_ms"), cfg.band_bucket_cap)).alias("p"))
        .select(
            F.col("p.a.url").alias("url1"),
            F.col("p.a.simhash").alias("_h1"),
            F.col("p.b.url").alias("url2"),
            F.col("p.b.simhash").alias("_h2"),
        )
        .withColumn("_d", hamming_distance_expr(F.col("_h1"), F.col("_h2")))
        .filter(F.col("_d") <= cfg.hamming_max)  # verify BEFORE the dedup shuffle
        .dropDuplicates(["url1", "url2"])
    )
    return pairs.select(
        "url1",
        "url2",
        (F.lit(1.0) - F.col("_d") / F.lit(float(cfg.simhash_bits))).alias("score"),
        F.lit("simhash").alias("method"),
    )
