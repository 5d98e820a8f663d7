"""Exact dedup pass: hash-group pair expansion.

Reference: processors/dedup.py:242-273 — group by content hash, emit
all intra-group pairs with score 1.0, reason "identical normalized
content". The reference already calls its hash-grouping out as the
O(n^2)->O(n) optimization (dedup.py:116-117); in Spark it is a
shuffle hash aggregation with map-side partial aggregation for free.

Scale note: we never emit all-pairs for huge groups. ``exact_pairs``
emits a star (every member -> group min) which is pair-equivalent for
connected-components purposes: the transitive closure is the full
group. At 10^12 docs a 1M-copy boilerplate page would otherwise emit
5*10^11 pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from epstein_pipeline_spark.functions.text import content_hash_expr


def exact_pairs(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    hash_col: str | None = None,
) -> DataFrame:
    """(url1, url2, score=1.0, method='exact') star-pairs per hash group.

    url1 < url2 canonical ordering (reference dedup.py:146,262).

    ``hash_col`` names an ALREADY-COMPUTED content-hash column (the
    pipeline's extract stage commits one): recomputing it here was a
    redundant normalize-regex + sha256 pass over the whole corpus —
    the definition is identical (content_hash_expr), so the output is
    too.
    """
    hashed = df.select(
        F.col(id_col).alias("_id"),
        (F.col(hash_col) if hash_col else content_hash_expr(text_col)).alias(
            "content_hash"
        ),
    )
    w = Window.partitionBy("content_hash")
    anchored = hashed.withColumn("_anchor", F.min("_id").over(w))
    return (
        anchored.filter(F.col("_id") != F.col("_anchor"))
        .select(
            F.col("_anchor").alias("url1"),
            F.col("_id").alias("url2"),
            F.lit(1.0).alias("score"),
            F.lit("exact").alias("method"),
        )
    )


def exact_all_pairs(df: DataFrame, id_col: str = "url", text_col: str = "text") -> DataFrame:
    """All intra-group pairs (reference-faithful output shape, for
    small-scale oracle checks; use ``exact_pairs`` in the pipeline)."""
    hashed = df.select(F.col(id_col).alias("_id"), content_hash_expr(text_col).alias("content_hash"))
    a, b = hashed.alias("a"), hashed.alias("b")
    return (
        a.join(b, "content_hash")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("url1"),
            F.col("b._id").alias("url2"),
            F.lit(1.0).alias("score"),
            F.lit("exact").alias("method"),
        )
    )
