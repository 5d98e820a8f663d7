"""Cluster assembly: labels + pairs -> the duplicate_clusters output.

Reference: find_clusters (processors/dedup.py:173-236) — groups,
representative = member with longest text (ties by id, dedup.py:216-220),
avg pair similarity per cluster (dedup.py:222-231). Output shape mirrors
the normalized duplicate_clusters table (exporters/neon_schema.py:146-157):
(cluster_id, url, is_representative, similarity, dedup_method).

Cluster ids are min-url (deterministic) rather than the reference's
uuid4[:8] (dedup.py:228) — clusters are compared as partitions.

Scale note: member lists are never collected into arrays; everything
is labels + window functions (SURVEY.md §4.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def build_clusters(
    labels: DataFrame,
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    include_singletons: bool = False,
) -> DataFrame:
    """(cluster_id, url, is_representative, similarity, dedup_method).

    similarity = cluster avg pair score; dedup_method = method of the
    highest-priority pair in the cluster (exact > minhash > ...).
    """
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("_sz"))
    members = labels.join(sizes, "cluster_id")
    if not include_singletons:
        members = members.filter(F.col("_sz") >= 2)

    # per-cluster aggregates from the pair edge list
    pair_stats = (
        pairs.join(labels.withColumnRenamed("url", "url1"), "url1")
        .groupBy("cluster_id")
        .agg(
            F.avg("score").alias("_avg_sim"),
            F.min_by("method", F.array_position(F.lit(["exact", "bates", "title_fuzzy", "minhash", "simhash", "semantic", "lcs"]), F.col("method"))).alias("_method"),
        )
    )

    lengths = docs.select(F.col(id_col).alias("url"), F.length(text_col).alias("_len"))
    w = Window.partitionBy("cluster_id").orderBy(F.desc("_len"), F.asc("url"))
    return (
        members.join(lengths, "url", "left")
        .withColumn("_rn", F.row_number().over(w))
        .join(pair_stats, "cluster_id", "left")
        .select(
            "cluster_id",
            "url",
            (F.col("_rn") == 1).alias("is_representative"),
            F.round(F.coalesce("_avg_sim", F.lit(1.0)), 6).alias("similarity"),
            F.coalesce("_method", F.lit("singleton")).alias("dedup_method"),
        )
    )
