"""Incremental ingest: dedup NEW pages against a committed store.

The production pattern at 10^12 documents is not "re-dedup the
corpus" but "a daily increment arrives; fold it in". The reference's
state store already resumes per document (state.py:86-111
``get_unprocessed`` anti-join; ocr.py:917-931 output-existence skip);
this plan lifts that contract to the whole pipeline: every stage
touches O(new + affected) rows, never O(corpus), except one
linear-I/O labels rewrite documented below.

Dataflow (delta = pages not yet in the committed extract):

1. extract/signatures: compute for delta only, APPEND-commit
   (``StageStore.append`` — parent data files are never rewritten,
   the Iceberg append-snapshot contract). Signatures come from the
   batch plan's own ``signatures_stage`` and are split by its
   ``minhash_sigs`` / ``simhash_sigs`` gates, so base and delta
   signatures are byte-identical by construction.
2. MinHash candidates: band rows for delta; the committed corpus'
   band rows are semi-joined down to ONLY the buckets delta touches
   (broadcast of the delta's band keys — one narrow scan of the
   committed signature table, no corpus shuffle), then the batch
   plan's own guarded expansion (``lsh.bucket_pairs``), keeping only
   pairs with a new side, scored by ``lsh.score_candidates`` as in
   batch. Each semi-join builds its distinct key set inside the stage
   that consumes it; nothing is materialized ahead of its stage.
3. minhash_scored: the batch plan's own ``minhash_scored_stage`` —
   estimate-accept >= 0.9, and one verify pass computing the exact
   Jaccard near the threshold and the LCS ratio for the gray zone —
   over delta candidates only.
4. pairs: ONE append whose build also plans the two passes that
   commit nothing of their own: exact (delta hashes join the committed
   corpus' per-hash anchor — min url per content_hash, O(1) row per
   old group, built by a groupBy on the hash column only — plus star
   pairs within delta) and SimHash (the same touched-bucket expansion
   as MinHash over ``simhash_pass.simhash_band_rows``, verified and
   scored by the batch pass's ``hamming_edges``). The union is the
   batch plan's ``pairs_stage``.
5. labels: incremental connected components. Old labels enter only
   for urls TOUCHED by new edges, as (url, cluster_id) seed edges
   (cluster_id is itself the min-url of the component, so label
   space == node space). CC runs over new edges + seeds — O(new)
   — and its output relabels exactly the affected old clusters
   (a broadcast semi-join against the affected cluster ids; merges
   of two old clusters through a new bridge doc come out right
   because both seeds land in one component). The final labels
   table is re-published (old minus affected, plus updates): the
   compute is O(new + affected), the rewrite is linear sequential
   I/O with no shuffle — on Iceberg this last step is MERGE INTO
   touching only affected file groups.
6. clusters: rebuilt for affected components only, unioned with the
   untouched remainder (broadcast anti-join).

Equivalence contract (pinned by tests): clusters(full corpus) and
clusters(base) + ingest(delta) produce the SAME partition of urls
into clusters (pair sets may differ under the chain+star guard, the
partition may not).
"""

from __future__ import annotations

import contextlib
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epstein_pipeline_spark.config import DEFAULT_CONFIG, DedupConfig
from epstein_pipeline_spark.operators.cc import connected_components
from epstein_pipeline_spark.operators.clusters import build_clusters
from epstein_pipeline_spark.operators.lsh import band_rows, bucket_pairs, score_candidates
from epstein_pipeline_spark.operators.simhash_pass import hamming_edges, simhash_band_rows
from epstein_pipeline_spark.operators.verify import SCORED_SCHEMA
from epstein_pipeline_spark.plans.checkpoint import StageStore, resume_filter
from epstein_pipeline_spark.plans.pipeline import (
    PipelineResult,
    extract_stage,
    minhash_scored_stage,
    minhash_sigs,
    pairs_stage,
    pre_extracted_stage,
    signatures_stage,
    simhash_sigs,
)


def _touched_bucket_pairs(
    bands_old: DataFrame, bands_delta: DataFrame, key_cols: list[str],
    member_cols: list[str], cap: int,
    bc=F.broadcast,
) -> DataFrame:
    """``lsh.bucket_pairs`` restricted to buckets a delta row touches,
    emitting only pairs with >= 1 new side.

    The committed corpus' band rows are cut down FIRST by a semi-join
    on the delta's distinct bucket keys — the only full pass over old
    data is the narrow band projection feeding that semi-join. ``bc``
    wraps the delta-derived key set: ``F.broadcast`` for
    daily-increment deltas (no corpus shuffle at all), identity for
    backfill-sized deltas past ``ingest_broadcast_max_rows`` (a
    shuffled semi-join — one corpus exchange beats an over-limit
    broadcast). The touched old rows and the delta rows expand as one
    bucket set, ``is_new`` riding last in the member struct so the
    sort order (and a capped bucket's chain+star edges) is the batch
    plan's; filtering to new-touching pairs preserves every new
    member's connectivity (its chain/star edges all touch it), and
    old-old connectivity is already represented by the committed
    labels.
    """
    old_touched = bands_old.join(
        bc(bands_delta.select(*key_cols).distinct()), key_cols, "left_semi"
    )
    members = old_touched.withColumn("is_new", F.lit(False)).unionByName(
        bands_delta.withColumn("is_new", F.lit(True))
    )
    return bucket_pairs(members, key_cols, F.struct(*member_cols, "is_new"), cap).filter(
        F.col("p.a.is_new") | F.col("p.b.is_new")
    )


def run_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    store: StageStore,
    cfg: DedupConfig = DEFAULT_CONFIG,
    use_extracted: bool = True,
    lcs_check: bool = True,
) -> PipelineResult:
    """Fold ``new_pages`` into a store previously built by
    ``run_dedup`` (or a prior ``run_incremental``). Returns the same
    PipelineResult shape with updated full tables.

    Every frame the ingest persists (the affected-only label/cluster
    views) is released in a ``finally`` — a failed run
    (commit conflict from a concurrent writer, a failed stage action)
    must not leak pinned executor storage into the caller's session
    for every retry."""
    pinned: list[DataFrame] = []
    try:
        return _run_incremental_impl(
            spark, new_pages, store, cfg, use_extracted, lcs_check, pinned
        )
    finally:
        for df in pinned:
            # guarded: a dead context (executor OOM, dropped gateway)
            # must not raise here and MASK the root-cause exception the
            # caller needs, nor skip the remaining frames
            with contextlib.suppress(Exception):
                df.unpersist()


def _run_incremental_impl(
    spark: SparkSession,
    new_pages: DataFrame,
    store: StageStore,
    cfg: DedupConfig,
    use_extracted: bool,
    lcs_check: bool,
    pinned: list[DataFrame],
) -> PipelineResult:
    timings: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.time()
        out = fn()
        timings[name] = time.time() - t0
        return out

    # refuse a store from an older engine version before appending to it
    store.check_schema("minhash_scored", SCORED_SCHEMA)
    old_docs = store.read(spark, "extract")
    old_labels = store.read(spark, "labels")

    # 1. delta extract (the reference's get_unprocessed anti-join).
    # CRASH RECOVERY: a kill between the extract append and the final
    # clusters commit leaves docs present but clusters stale — the
    # anti-join alone would then see "nothing new" and skip the redo.
    # Freshness rule: a downstream stage is DONE for this delta iff
    # its manifest records this delta's extract SNAPSHOT ID
    # (``for_extract_snapshot`` — an id compare, immune to wall-clock
    # steps between process restarts that a committed_at timestamp
    # compare was not); on rerun with an empty anti-join but stale
    # clusters, the last extract snapshot IS the in-flight delta and
    # the redo resumes from it, reusing every stage a crashed run
    # already appended (the labels/clusters recompute is idempotent).
    delta_pages = resume_filter(new_pages, old_docs, "url")

    def _fresh(stage: str, ref_snap: int) -> bool:
        m = store.latest(stage)
        return m is not None and m.get("for_extract_snapshot") == ref_snap

    prior_ex = store.latest("extract")
    # extract is row-for-row, so the anti-join alone says whether there
    # is a delta; the extract pass runs once, inside its append, and
    # the probe's time counts toward extract when an extract runs
    t0 = time.time()
    no_delta = delta_pages.isEmpty()
    probe_s = time.time() - t0
    if no_delta:
        # "clusters" commits LAST — it being fresh means the whole
        # ingest completed (labels alone fresh still needs a redo)
        if _fresh("clusters", prior_ex["snapshot"]):
            return PipelineResult(  # fully ingested: nothing to do
                clusters=store.read(spark, "clusters"),
                labels=old_labels,
                pairs=store.read(spark, "pairs"),
                stage_seconds=timings,
                docs_in=prior_ex["rows"],
            )
        # interrupted ingest: resume with the last extract snapshot as
        # the delta; old_* views must exclude it
        m_ex = prior_ex
        timings["extract"] = 0.0
        old_docs = store.read_part(spark, "extract", "parents", m_ex)
    else:
        if not _fresh("clusters", prior_ex["snapshot"]):
            # a PREVIOUS ingest never completed; its docs are already
            # in the committed extract, so this run's anti-join would
            # silently drop them from the redo forever. Complete the
            # pending ingest first (empty-delta recursion lands in the
            # recovery branch above — no further recursion), then
            # proceed against the consistent store. The extract chain
            # is untouched by the recovery, labels/clusters are not.
            run_incremental(
                spark, new_pages.limit(0), store, cfg,
                use_extracted=use_extracted, lcs_check=lcs_check,
            )
            old_labels = store.read(spark, "labels")
        extract = extract_stage if use_extracted else pre_extracted_stage
        m_ex = timed("extract", lambda: store.append("extract", extract(delta_pages)))
        timings["extract"] += probe_s
    ref_snap = m_ex["snapshot"]
    stamp = {"for_extract_snapshot": ref_snap}
    docs_all = store.read(spark, "extract")
    docs_delta = store.read_part(spark, "extract", "delta", m_ex)  # just the committed delta

    # BROADCAST GATE: every delta-derived key set below (band keys,
    # content hashes, touched urls / cluster ids / relabel map) is
    # O(delta) rows — broadcasting them is what makes a daily-increment
    # ingest shuffle-free, but a backfill-sized delta (a quarter of the
    # corpus re-crawled) would blow past the 8 GB broadcast hard limit
    # and driver memory on exactly the run a user reaches for `ingest`.
    # The committed delta manifest's own row count decides (free — no
    # extra job): past cfg.ingest_broadcast_max_rows the same joins run
    # shuffled. The affected-cluster sets are O(delta)-ish, not bounded
    # by it (a small delta CAN touch a mega-cluster); the gate is
    # deliberately conservative there — they inherit the delta flag.
    small_delta = m_ex.get("delta_rows", m_ex["rows"]) <= cfg.ingest_broadcast_max_rows
    bc = F.broadcast if small_delta else (lambda df: df)

    def appended(stage: str, build) -> DataFrame:
        """Append `build()` as this delta's snapshot of `stage`, or
        reuse the snapshot a crashed run already committed (id match
        on the delta's extract snapshot — the freshness rule)."""
        m = store.latest(stage)
        if m is not None and m.get("for_extract_snapshot") == ref_snap:
            timings[stage] = 0.0
        else:
            t0 = time.time()
            m = store.append(stage, build(), extra=stamp)
            timings[stage] = time.time() - t0
        return store.read_part(spark, stage, "delta", m)

    # 2. delta signatures (old view excludes this delta's snapshot if
    # a crashed run already appended it)
    sigs_delta = appended("signatures", lambda: signatures_stage(docs_delta, cfg))
    old_sigs = store.read_part(spark, "signatures", "parents")
    sigs_all = store.read(spark, "signatures")

    # 3. MinHash candidates: delta bands vs touched old buckets
    def build_candidates() -> DataFrame:
        pairs = _touched_bucket_pairs(
            band_rows(minhash_sigs(old_sigs, cfg), cfg),
            band_rows(minhash_sigs(sigs_delta, cfg), cfg),
            ["band_i", "band_hash"], ["url"], cfg.band_bucket_cap, bc=bc,
        ).select(
            F.col("p.a.url").alias("url1"), F.col("p.b.url").alias("url2")
        ).dropDuplicates(["url1", "url2"])
        return score_candidates(pairs, minhash_sigs(sigs_all, cfg), cfg)

    est = appended("minhash_candidates", build_candidates)

    # 4. one verify pass over the delta candidates (the batch body)
    mh_scored = appended("minhash_scored", lambda: minhash_scored_stage(est, docs_all, cfg))

    # 5. pairs: the exact pass (delta-internal star pairs + delta ->
    # old-anchor) and the SimHash pass are planned inside the pairs
    # append, so a resumed run declares neither
    def build_exact() -> DataFrame:
        from epstein_pipeline_spark.operators.exact import exact_pairs

        internal = exact_pairs(docs_delta, hash_col="content_hash")
        # restrict BEFORE grouping: a broadcast semi-join on the
        # delta's (small) hash set keeps the anchor groupBy O(delta)
        # instead of shuffling the whole committed corpus by
        # content_hash on every ingest — the same pattern as the
        # band-key semi-join in _touched_bucket_pairs
        delta_hashes = docs_delta.select("content_hash").distinct()
        old_anchor = (
            old_docs.join(bc(delta_hashes), "content_hash", "left_semi")
            .groupBy("content_hash")
            .agg(F.min("url").alias("_a"))
        )
        cross = (
            docs_delta.select("url", "content_hash")
            .join(old_anchor, "content_hash")
            .select(
                F.least("url", "_a").alias("url1"),
                F.greatest("url", "_a").alias("url2"),
                F.lit(1.0).alias("score"),
                F.lit("exact").alias("method"),
            )
        )
        return internal.unionByName(cross)

    # SimHash: the touched-bucket pattern again, verified and scored
    # by the batch pass's own projection; signatures ride in the
    # member structs (no join back)
    def build_simhash() -> DataFrame:
        return hamming_edges(
            _touched_bucket_pairs(
                simhash_band_rows(simhash_sigs(old_sigs, cfg), cfg),
                simhash_band_rows(simhash_sigs(sigs_delta, cfg), cfg),
                ["band_i", "band_val"], ["url", "simhash"], cfg.band_bucket_cap,
                bc=bc,
            ),
            cfg,
        )

    def build_pairs() -> DataFrame:
        return pairs_stage(build_exact(), mh_scored, build_simhash(), cfg, lcs_check)

    pairs_delta = appended("pairs", build_pairs)
    pairs_all = store.read(spark, "pairs")

    # 6. incremental connected components. Every DataFrame here is
    # O(new edges + affected members); the only O(corpus) step is the
    # final label republication (linear sequential I/O, broadcast
    # anti-join, no shuffle — Iceberg's MERGE INTO shape).
    t0 = time.time()
    edge_urls = (
        pairs_delta.select(F.col("url1").alias("url"))
        .unionByName(pairs_delta.select(F.col("url2").alias("url")))
        .distinct()
    )
    # persist the affected-only frames: each is consumed by MULTIPLE
    # downstream broadcast sites (relabel semi, untouched anti,
    # clusters keep anti), and without the persist every site's
    # broadcast build re-runs the O(labels) semi-join scan serially
    touched = old_labels.join(bc(edge_urls), "url", "left_semi").persist()
    pinned.append(touched)
    # seed edge (member -> its old cluster_id): label space == node
    # space because cluster_id is the component's min url, so CC over
    # new edges + seeds reconnects every affected old cluster — and
    # merges two old clusters bridged by a new doc
    seeds = touched.select(
        F.col("url").alias("url1"), F.col("cluster_id").alias("url2")
    )
    # small (affected-only) and reused four times below. Persisted
    # (released by run_incremental's finally), not local-checkpointed:
    # blocks lost with an executor are recomputed from lineage instead
    # of failing the ingest
    partial = connected_components(
        pairs_delta.select("url1", "url2").unionByName(seeds),
        nodes=docs_delta.select("url"),
        max_iters=cfg.cc_max_iters,
        checkpoint_every=cfg.cc_checkpoint_every,
    ).persist()
    pinned.append(partial)
    affected_old_ids = touched.select("cluster_id").distinct().persist()
    pinned.append(affected_old_ids)
    # every member of an affected old cluster takes its cluster_id's
    # NEW label (the old id participates as a node in `partial`)
    id_map = partial.select(
        F.col("url").alias("cluster_id"), F.col("cluster_id").alias("_new")
    )
    relabeled = old_labels.join(
        bc(affected_old_ids), "cluster_id", "left_semi"
    ).join(bc(id_map), "cluster_id").select(
        "url", F.col("_new").alias("cluster_id")
    )
    untouched = old_labels.join(
        bc(affected_old_ids), "cluster_id", "left_anti"
    ).select("url", "cluster_id")
    # nodes of `partial` that are not in old_labels are exactly the
    # delta urls — select them directly instead of an O(corpus)
    # anti-join against the labels table
    fresh = partial.join(bc(docs_delta.select("url")), "url", "left_semi")
    labels = untouched.unionByName(relabeled).unionByName(fresh).dropDuplicates(["url"])
    store.commit("labels", labels, extra=stamp)  # full republication (Iceberg: MERGE INTO)
    timings["labels"] = time.time() - t0
    labels = store.read(spark, "labels")

    # 7. clusters: drop every affected/new component's rows, rebuild
    # them from the updated labels, keep the rest untouched
    def build_clusters_inc() -> DataFrame:
        old_clusters = store.read(spark, "clusters")
        new_ids = partial.select("cluster_id").distinct()
        # consumed three times below (rebuild, pair semi key, keep anti)
        sub_labels = labels.join(bc(new_ids), "cluster_id", "left_semi").persist()
        pinned.append(sub_labels)
        # drop stale rows by cluster id AND by member url: in crash
        # recovery after the labels commit, `old_labels` already holds
        # final ids, so a merged-AWAY old cluster's id is not in
        # affected_old_ids — but its members are all in sub_labels
        # (the whole affected component relabels), so the url
        # anti-join removes their stale rows regardless of old id
        keep = old_clusters.join(
            bc(affected_old_ids), "cluster_id", "left_anti"
        ).join(bc(sub_labels.select("url")), "url", "left_anti")
        sub_pairs = pairs_all.join(
            bc(sub_labels.select(F.col("url").alias("url1"))),
            "url1",
            "left_semi",
        )
        rebuilt = build_clusters(sub_labels, sub_pairs, docs_all)
        return keep.unionByName(rebuilt)

    timed("clusters", lambda: store.commit("clusters", build_clusters_inc(), extra=stamp))
    clusters = store.read(spark, "clusters")

    return PipelineResult(
        clusters=clusters,
        labels=labels,
        pairs=pairs_all,
        stage_seconds=timings,
        docs_in=store.latest("extract")["rows"],
    )
