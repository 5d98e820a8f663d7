"""Candidate-pair union with first-pass-wins semantics.

Reference: Deduplicator.find_duplicates merges exact | minhash |
semantic passes, keeping the FIRST pass's (method, score) for a pair
seen by several passes (processors/dedup.py:138-171, ``seen_pairs``).

A naive dropDuplicates loses that ordering guarantee; we rank by an
explicit pass priority (SURVEY.md U1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from epstein_pipeline_spark.operators.lsh import bucket_pairs

PASS_PRIORITY = {
    "exact": 0,
    "bates": 1,
    "title_fuzzy": 2,
    "minhash": 3,
    "simhash": 4,
    "semantic": 5,
    "lcs": 6,
}


def guarded_block_pairs(
    df: DataFrame, block_col: str, payload_cols: list[str], cap: int
) -> DataFrame:
    """Blocked pair generation with the oversized-block skew guard.

    The reference caps blocked-comparison blowup with a max-pairs
    memory guard (``config.py:130`` splink_max_pairs,
    ``entity_resolution.py:210``); the Spark restatement is the LSH
    bucket expansion itself, ``lsh.bucket_pairs`` over the block key
    with ``struct(*payload_cols)`` members (all C(n,2) pairs for
    blocks <= cap, sorted adjacent chain + star-to-min for oversized
    blocks — O(n) edges that keep every true cluster connected). ONE
    shuffle; a hot block (a common first name / first title token at
    web scale) emits O(n) pairs instead of becoming a quadratic task.

    Rows with a NULL block key never pair (same as the equi-join they
    replace). Returns struct columns ``a`` and ``b``; the FIRST entry
    of ``payload_cols`` is the id/order key (pairs satisfy
    a.id < b.id — duplicate-id rows sort adjacent in the member array
    and would otherwise emit an id-equal self 'pair' the strict `<`
    join this replaces structurally excluded).
    """
    id_col = payload_cols[0]
    return (
        bucket_pairs(
            df.filter(F.col(block_col).isNotNull()), [block_col], F.struct(*payload_cols), cap
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
    )


def salted_block_join(
    df: DataFrame,
    block_col: str,
    payload_cols: list[str],
    cap: int,
    broadcast_max_blocks: int = 2_000_000,
    n_blocks_hint: int | None = None,
) -> DataFrame:
    """The dense-block variant of the blocked-pair skew guard.

    ``guarded_block_pairs`` pays an interpreted array expansion per
    bucket — the right trade for small blocks. When blocks are DENSE
    (comparison volume >> block count, e.g. thousands of rows per
    block each needing a JVM kernel like ``levenshtein``), a codegen
    equi-join wins: this variant sub-salts each block into
    ``ceil(n/cap)`` hash buckets via a broadcast size lookup and
    self-joins on (block, sub). Blocks <= cap get sub=0 everywhere —
    EXACT all-pairs; oversized blocks degrade to O(n*cap) within-sub
    pairs. NOTE the degradation differs from chain+star: cross-sub
    pairs are sacrificed WITHOUT a connectivity guarantee, so feed
    this variant to scorers/oracles, NOT to connected-components
    pipelines that rely on every true cluster staying connected
    (guarded_block_pairs is the CC-safe guard). Whole-stage codegen is
    preserved end-to-end.

    Same output contract as guarded_block_pairs: struct columns ``a``
    and ``b`` with a.<id> < b.<id>; NULL block keys never pair.

    The per-block size lookup is one row per DISTINCT block value — a
    broadcast is right for name-token/nation-key cardinalities but a
    web-scale block key (host: 10^8+) would make it a multi-GB driver
    artifact. The broadcast is therefore GATED on a cheap
    ``approx_count_distinct`` probe (one narrow map-side-partial pass
    over the block column, 5%% error is plenty for a size gate); past
    ``broadcast_max_blocks`` the sizes join falls back to a shuffled
    equi-join (AQE may still runtime-convert it if the table proves
    small). ``broadcast_max_blocks=0`` forces the shuffle path.

    The probe is an EAGER extra action at call time (it executes the
    un-materialized upstream plan once beyond the join itself). When
    the caller already knows a bound on the block-key cardinality —
    a fixed key domain, or a committed manifest row count the way
    ``run_incremental`` gates its delta broadcasts — pass it as
    ``n_blocks_hint`` and the probe is skipped entirely; the call is
    then fully lazy.
    """
    id_col = payload_cols[0]
    sizes = df.groupBy(block_col).agg(F.count(F.lit(1)).alias("_bn"))
    if broadcast_max_blocks > 0:
        n_blocks = (
            n_blocks_hint
            if n_blocks_hint is not None
            else df.agg(F.approx_count_distinct(block_col).alias("n")).collect()[0][
                "n"
            ]
        )
        if n_blocks <= broadcast_max_blocks:
            sizes = F.broadcast(sizes)
    t = (
        df.filter(F.col(block_col).isNotNull())
        .join(sizes, block_col)
        .withColumn(
            "_sub",
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string")),
                F.greatest(F.lit(1), F.ceil(F.col("_bn") / F.lit(cap))).cast("long"),
            ),
        )
    )
    # join FLAT columns — struct payloads riding through the shuffle
    # cost ~25% extra on a dense join; the a/b structs are built only
    # in the final projection, where Catalyst collapses
    # CreateNamedStruct + GetStructField back to the flat columns.
    #
    # The probe side is explicitly round-robin repartitioned: block
    # tables small enough to broadcast are typically ALSO one input
    # split (a sub-maxPartitionBytes parquet file), and a broadcast
    # hash join inherits the probe side's partitioning — without the
    # repartition the entire O(sum block^2) pair expansion + distance
    # kernel runs in a single task (measured: the whole
    # customer_fuzzy_pairs bench query serialized on one core, 8.6 s
    # at 32 available). One extra exchange of input ROWS (not pairs)
    # is noise next to the dense-join compute this operator exists
    # for; when the planner picks a shuffled join instead, the rows
    # were going to be exchanged anyway.
    nparts = df.sparkSession.sparkContext.defaultParallelism * 2
    a = t.select(
        F.col(block_col).alias("_blk"),
        "_sub",
        *[F.col(c).alias(f"_a_{c}") for c in payload_cols],
    ).repartition(nparts)
    b = t.select(
        F.col(block_col).alias("_blk"),
        "_sub",
        *[F.col(c).alias(f"_b_{c}") for c in payload_cols],
    )
    return (
        a.join(b, ["_blk", "_sub"])
        .filter(F.col(f"_a_{id_col}") < F.col(f"_b_{id_col}"))
        .select(
            F.struct(*[F.col(f"_a_{c}").alias(c) for c in payload_cols]).alias("a"),
            F.struct(*[F.col(f"_b_{c}").alias(c) for c in payload_cols]).alias("b"),
        )
    )


def canonicalize_pairs(pairs: DataFrame) -> DataFrame:
    """Enforce url1 < url2 (reference dedup.py:146,262,281,310)."""
    return pairs.select(
        F.least("url1", "url2").alias("url1"),
        F.greatest("url1", "url2").alias("url2"),
        *[c for c in pairs.columns if c not in ("url1", "url2")],
    ).filter(F.col("url1") != F.col("url2"))


def union_first_wins(*passes: DataFrame) -> DataFrame:
    """Union pass outputs; first-pass-wins per (url1, url2)."""
    prio = F.create_map(*[F.lit(x) for kv in PASS_PRIORITY.items() for x in kv])
    unioned = None
    for p in passes:
        unioned = p if unioned is None else unioned.unionByName(p)
    assert unioned is not None
    # unmapped method strings rank LAST (nulls would sort first
    # ascending and silently outrank 'exact')
    ranked = unioned.withColumn("_prio", F.coalesce(prio[F.col("method")], F.lit(99)))
    w = Window.partitionBy("url1", "url2").orderBy("_prio", F.desc("score"))
    return (
        ranked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_prio", "_rn")
    )
