"""Incremental ingest: fold new pages into a committed store.

Equivalence contract: clusters(full corpus) == clusters(base) +
ingest(delta) as a PARTITION of urls (pair sets may differ under the
chain+star guard; the partition may not). Reference per-doc resume
semantics: state.py:86-111, ocr.py:917-931."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from epstein_pipeline_spark.config import DedupConfig
from epstein_pipeline_spark.plans.checkpoint import StageStore
from epstein_pipeline_spark.plans.incremental import run_incremental
from epstein_pipeline_spark.plans.pipeline import run_dedup


def _partition(labels_df) -> set[frozenset]:
    groups: dict = {}
    for r in labels_df.collect():
        groups.setdefault(r["cluster_id"], set()).add(r["url"])
    return {frozenset(v) for v in groups.values() if len(v) > 1}


def _cluster_partition(clusters_df) -> set[frozenset]:
    groups: dict = {}
    for r in clusters_df.collect():
        groups.setdefault(r["cluster_id"], set()).add(r["url"])
    return {frozenset(v) for v in groups.values()}


def test_incremental_matches_full_run(spark, pages, tmp_path):
    """Split the synth corpus ~3:1 by url hash (duplicate classes span
    the split); base-run + ingest must produce the same url partition
    as one full run."""
    is_delta = F.pmod(F.xxhash64("url"), F.lit(4)) == 0
    base = pages.filter(~is_delta)
    delta = pages.filter(is_delta)
    assert 0 < delta.count() < pages.count()

    full = run_dedup(spark, pages, StageStore(tmp_path / "full"), DedupConfig())
    store = StageStore(tmp_path / "inc")
    run_dedup(spark, base, store, DedupConfig())
    inc = run_incremental(spark, delta, store, DedupConfig())

    assert _partition(full.labels) == _partition(inc.labels)
    assert _cluster_partition(full.clusters) == _cluster_partition(inc.clusters)
    assert inc.docs_in == pages.count()
    # one timer key per committed stage, the same seven as a batch
    # run: the exact and SimHash passes run inside the `pairs` append
    # and commit nothing of their own (test_pipeline checks the seven
    # against the names the benchmark reads)
    stage_dirs = {p.name for p in (tmp_path / "inc").iterdir()}
    assert set(inc.stage_seconds) == set(full.stage_seconds) == stage_dirs


def test_lcs_edge_reaches_pairs_in_batch_and_incremental(spark, tmp_path):
    """A boilerplate-wrapped duplicate: an LSH candidate whose exact
    Jaccard lands in the gray zone and whose LCS ratio rescues it. It
    must reach the pair table as method 'lcs' and join one cluster,
    from a batch run and from an ingest that brings the wrapped copy."""
    import random

    from epstein_pipeline_spark.functions.minhash import py_exact_jaccard

    def words(prefix, n, seed):
        r = random.Random(seed)
        return " ".join(f"{prefix}{r.randrange(10**6):06d}" for _ in range(n))

    body = words("body", 200, 1)
    wrapped = words("menu", 25, 5) + " " + body + " " + words("foot", 25, 6)
    cfg = DedupConfig()
    assert cfg.lcs_gray_low <= py_exact_jaccard(body, wrapped) < cfg.jaccard_threshold

    def frame(rows):
        return spark.createDataFrame(rows, "url string, text string").select(
            "url", F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
            F.lit("en").alias("lang"), "text",
        )

    others = [(f"z{i}", words(f"w{i}x", 200, 10 + i)) for i in range(4)]
    base = frame([("a", body)] + others)
    delta = frame([("b", wrapped)])

    def check(res, store):
        cands = {(r["url1"], r["url2"]) for r in store.read(spark, "minhash_candidates").collect()}
        assert ("a", "b") in cands
        pairs = {(r["url1"], r["url2"]): r["method"] for r in res.pairs.collect()}
        assert pairs == {("a", "b"): "lcs"}
        assert _partition(res.labels) == {frozenset({"a", "b"})}

    store = StageStore(tmp_path / "full")
    check(run_dedup(spark, base.unionByName(delta), store, cfg, use_extracted=False), store)
    store = StageStore(tmp_path / "inc")
    run_dedup(spark, base, store, cfg, use_extracted=False)
    check(run_incremental(spark, delta, store, cfg, use_extracted=False), store)


def test_incremental_bridge_merges_two_base_clusters(spark, tmp_path):
    """A delta doc that is a near-dup of BOTH base clusters must merge
    them into one (the seed edges put both old labels in one
    component). LCS rescue off: the planted core would legitimately
    rescue the 0.67-Jaccard A-B pair and hide the bridge effect."""
    import string

    core = [f"corew{i:03d}" for i in range(150)]
    # specific words over DISJOINT alphabets (a-m vs n-z) so the two
    # sides share no specific shingles; the bridge takes A's word at
    # even slots and B's at odd slots, so every shared word keeps its
    # original neighbors (boundary shingles stay symmetric)
    la, lb = string.ascii_lowercase[:13], string.ascii_lowercase[13:]
    aw = ["".join(la[(i * 7 + j * 3) % 13] for j in range(10)) for i in range(20)]
    bw = ["".join(lb[(i * 7 + j * 3) % 13] for j in range(10)) for i in range(20)]
    cw = [aw[i] if i % 2 == 0 else bw[i] for i in range(20)]

    def mix(specific):
        out = []
        k = 0
        for i, w in enumerate(core):
            out.append(w)
            if i % 7 == 0 and k < len(specific):
                out.append(specific[k])
                k += 1
        return " ".join(out)

    t_a = mix(aw)
    t_b = mix(bw)
    t_bridge = mix(cw)

    # construction preconditions on TRUE 5-char-shingle Jaccard: the
    # bridge clears the 0.8 dedup threshold against both sides, the
    # sides do not clear it against each other
    def jac(x, y):
        sx = {x[i:i + 5] for i in range(len(x) - 4)}
        sy = {y[i:i + 5] for i in range(len(y) - 4)}
        return len(sx & sy) / len(sx | sy)

    assert jac(t_a, t_b) < 0.72, jac(t_a, t_b)
    assert jac(t_a, t_bridge) > 0.81, jac(t_a, t_bridge)
    assert jac(t_b, t_bridge) > 0.81, jac(t_b, t_bridge)
    rows = [
        ("a1", t_a), ("a2", t_a + " trailerx"),
        ("b1", t_b), ("b2", t_b + " trailery"),
    ]
    base = spark.createDataFrame(rows, "url string, text string").select(
        "url", F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"), "text",
    )
    cfg = DedupConfig()
    store = StageStore(tmp_path / "s")
    res0 = run_dedup(spark, base, store, cfg, use_extracted=False, lcs_check=False)
    p0 = _partition(res0.labels)
    assert p0 == {frozenset({"a1", "a2"}), frozenset({"b1", "b2"})}

    delta = spark.createDataFrame([("c1", t_bridge)], "url string, text string").select(
        "url", F.lit("2024-01-02 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"), "text",
    )
    res1 = run_incremental(spark, delta, store, cfg, use_extracted=False, lcs_check=False)
    assert _partition(res1.labels) == {frozenset({"a1", "a2", "b1", "b2", "c1"})}
    # the merged cluster's rows replaced both old clusters' rows
    cp = _cluster_partition(res1.clusters)
    assert frozenset({"a1", "a2", "b1", "b2", "c1"}) in cp
    assert not any(g < frozenset({"a1", "a2", "b1", "b2", "c1"}) for g in cp)


def test_incremental_unrelated_delta_keeps_old_clusters(spark, tmp_path):
    t1 = " ".join(f"w{i}" for i in range(120))
    rows = [("u1", t1), ("u2", t1 + " tail")]
    base = spark.createDataFrame(rows, "url string, text string").select(
        "url", F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"), "text",
    )
    store = StageStore(tmp_path / "s")
    res0 = run_dedup(spark, base, store, DedupConfig(), use_extracted=False)
    delta = spark.createDataFrame(
        [("z1", " ".join(f"zz{i}" for i in range(150)))], "url string, text string"
    ).select(
        "url", F.lit("2024-01-02 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"), "text",
    )
    res1 = run_incremental(spark, delta, store, DedupConfig(), use_extracted=False)
    assert _partition(res1.labels) == _partition(res0.labels)
    # singleton delta url got a label, and the old cluster rows survived
    assert res1.labels.filter(F.col("url") == "z1").count() == 1
    assert _cluster_partition(res1.clusters) == _cluster_partition(res0.clusters)


def test_incremental_already_ingested_is_noop(spark, pages, tmp_path):
    sub = pages.filter(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
    store = StageStore(tmp_path / "s")
    run_dedup(spark, sub, store, DedupConfig())
    before = store.latest("extract")["rows"]
    res = run_incremental(spark, sub, store, DedupConfig())
    assert store.latest("extract")["rows"] == before
    assert res.docs_in == before


def test_two_sequential_ingests_match_full_run(spark, pages, tmp_path):
    """Append-on-append: base + ingest(d1) + ingest(d2) must still
    equal one full run (manifest chains survive a second append)."""
    h = F.pmod(F.xxhash64("url"), F.lit(5))
    base = pages.filter(h >= 2)
    d1 = pages.filter(h == 0)
    d2 = pages.filter(h == 1)
    full = run_dedup(spark, pages, StageStore(tmp_path / "full"), DedupConfig())
    store = StageStore(tmp_path / "inc")
    run_dedup(spark, base, store, DedupConfig())
    run_incremental(spark, d1, store, DedupConfig())
    inc = run_incremental(spark, d2, store, DedupConfig())
    assert _partition(full.labels) == _partition(inc.labels)
    assert inc.docs_in == pages.count()


def test_compact_collapses_append_chain(spark, tmp_path):
    store = StageStore(tmp_path / "s")
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], "url string, v int")
    df2 = spark.createDataFrame([("c", 3)], "url string, v int")
    store.commit("t", df1)
    store.append("t", df2)
    assert len(store.latest("t")["paths"]) == 2
    store.compact(spark, "t")
    m = store.latest("t")
    assert "paths" not in m and m["rows"] == 3
    assert {r["url"] for r in store.read(spark, "t").collect()} == {"a", "b", "c"}
    # compacting a single-snapshot stage is a no-op
    snap = m["snapshot"]
    store.compact(spark, "t")
    assert store.latest("t")["snapshot"] == snap


def test_expire_snapshots_keeps_only_referenced(spark, tmp_path):
    """Iceberg expire_snapshots analog: after compact, only the
    compacted snapshot's dir survives expiry, reads still work, and a
    chained (un-compacted) manifest keeps its whole chain."""
    store = StageStore(tmp_path / "s")
    store.commit("t", spark.createDataFrame([("a", 1)], "url string, v int"))
    store.append("t", spark.createDataFrame([("b", 2)], "url string, v int"))
    assert store.expire_snapshots("t") == []  # chain fully referenced
    store.compact(spark, "t")
    removed = store.expire_snapshots("t")
    assert len(removed) == 2  # the two pre-compact snapshot dirs
    dirs = list((tmp_path / "s" / "t").glob("snapshot-*"))
    assert len(dirs) == 1
    assert {r["url"] for r in store.read(spark, "t").collect()} == {"a", "b"}


def test_ingest_crash_recovery_resumes_and_matches_full(spark, pages, tmp_path):
    """Kill simulation: a crashed ingest appended extract + signatures
    but never reached pairs/labels/clusters. Re-running the SAME
    ingest must detect the stale clusters (anti-join sees nothing
    new), resume from the in-flight delta snapshot, reuse the
    already-appended stages, and converge to the full-run partition."""
    from epstein_pipeline_spark.plans.incremental import _delta_signatures
    from epstein_pipeline_spark.plans.pipeline import extract_stage

    is_delta = F.pmod(F.xxhash64("url"), F.lit(4)) == 0
    base, delta = pages.filter(~is_delta), pages.filter(is_delta)
    cfg = DedupConfig()
    full = run_dedup(spark, pages, StageStore(tmp_path / "full"), cfg)

    store = StageStore(tmp_path / "inc")
    run_dedup(spark, base, store, cfg)
    # simulate the crashed run's first two appends
    m_ex = store.append("extract", extract_stage(delta))
    committed_delta = spark.read.parquet(m_ex["path"])
    # a real ingest stamps downstream appends with the delta's extract
    # snapshot id — the freshness rule compares ids, not timestamps
    store.append(
        "signatures",
        _delta_signatures(committed_delta, cfg),
        extra={"for_extract_snapshot": m_ex["snapshot"]},
    )
    clusters_before = store.latest("clusters")["committed_at"]

    res = run_incremental(spark, delta, store, cfg)
    assert res.stage_seconds["extract"] == 0.0  # reused, not recomputed
    assert res.stage_seconds["signatures"] == 0.0
    assert store.latest("clusters")["committed_at"] > clusters_before
    assert _partition(full.labels) == _partition(res.labels)
    # a second rerun is now a true noop (clusters fresh)
    again = run_incremental(spark, delta, store, cfg)
    assert all(v == 0.0 for v in again.stage_seconds.values())


def test_ingest_crash_between_labels_and_clusters(spark, tmp_path):
    """Crash window AFTER the labels commit but BEFORE clusters: on
    rerun, old_labels already hold final ids, so the merged-away base
    cluster's id is not among the affected ids — its stale clusters
    rows must still be dropped (member-url anti-join)."""
    import json as _json
    from pathlib import Path

    import string

    core = [f"corew{i:03d}" for i in range(150)]
    la, lb = string.ascii_lowercase[:13], string.ascii_lowercase[13:]
    aw = ["".join(la[(i * 7 + j * 3) % 13] for j in range(10)) for i in range(20)]
    bw = ["".join(lb[(i * 7 + j * 3) % 13] for j in range(10)) for i in range(20)]
    cw = [aw[i] if i % 2 == 0 else bw[i] for i in range(20)]

    def mix(specific):
        out, k = [], 0
        for i, w in enumerate(core):
            out.append(w)
            if i % 7 == 0 and k < len(specific):
                out.append(specific[k])
                k += 1
        return " ".join(out)

    def to_pages(rows):
        return spark.createDataFrame(rows, "url string, text string").select(
            "url", F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
            F.lit("en").alias("lang"), "text",
        )

    cfg = DedupConfig()
    store = StageStore(tmp_path / "s")
    base = to_pages([("a1", mix(aw)), ("a2", mix(aw) + " tx"),
                     ("b1", mix(bw)), ("b2", mix(bw) + " ty")])
    run_dedup(spark, base, store, cfg, use_extracted=False, lcs_check=False)
    pre_clusters_manifest = (Path(store.root) / "clusters" / "MANIFEST.json").read_text()

    delta = to_pages([("c1", mix(cw))])
    run_incremental(spark, delta, store, cfg, use_extracted=False, lcs_check=False)
    # simulate the crash: roll the clusters manifest back to the
    # pre-ingest snapshot (labels stayed final)
    (Path(store.root) / "clusters" / "MANIFEST.json").write_text(pre_clusters_manifest)

    res = run_incremental(spark, delta, store, cfg, use_extracted=False, lcs_check=False)
    cp = _cluster_partition(res.clusters)
    assert frozenset({"a1", "a2", "b1", "b2", "c1"}) in cp
    # no stale rows from either pre-merge cluster survive
    assert all(
        not (g & {"a1", "a2", "b1", "b2", "c1"})
        for g in cp - {frozenset({"a1", "a2", "b1", "b2", "c1"})}
    )
    assert res.clusters.groupBy("url").count().filter(F.col("count") > 1).count() == 0


def test_stream_cluster_ingest_matches_full_run(spark, pages, tmp_path):
    """Structured Streaming surface: base batch run, then two delta
    files arrive as separate micro-batches (maxFilesPerTrigger=1);
    the drained stream's store must hold the full-run partition."""
    from epstein_pipeline_spark.streaming.incremental import stream_cluster_ingest

    h = F.pmod(F.xxhash64("url"), F.lit(5))
    base = pages.filter(h >= 2)
    cfg = DedupConfig()
    full = run_dedup(spark, pages, StageStore(tmp_path / "full"), cfg)
    store = StageStore(tmp_path / "inc")
    run_dedup(spark, base, store, cfg)

    indir = tmp_path / "in"
    pages.filter(h == 0).coalesce(1).write.mode("append").parquet(str(indir))
    pages.filter(h == 1).coalesce(1).write.mode("append").parquet(str(indir))

    q = stream_cluster_ingest(spark, str(indir), store, str(tmp_path / "ckpt"), cfg)
    q.awaitTermination(300)

    labels = store.read(spark, "labels")
    assert _partition(full.labels) == _partition(labels)
    assert store.latest("extract")["rows"] == pages.count()


@pytest.mark.parametrize(
    "crash_after",
    ["extract", "signatures", "minhash_candidates", "minhash_scored", "pairs", "labels"],
)
def test_ingest_crash_matrix_recovers(spark, tmp_path, crash_after):
    """Kill-after-every-stage audit: run a complete ingest, then roll
    every stage AFTER the crash point back to its pre-ingest manifest
    (exactly the on-disk state a kill there leaves, since stages
    commit in order). The rerun must converge to the same final
    partition with no duplicate label/cluster rows."""
    from pathlib import Path

    order = ["extract", "signatures", "minhash_candidates",
             "minhash_scored", "pairs", "labels", "clusters"]
    t1 = " ".join(f"w{i:02d}" for i in range(150))
    rows = [("u1", t1), ("u2", t1 + " tailone")]
    base = spark.createDataFrame(rows, "url string, text string").select(
        "url", F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"), "text",
    )
    delta = spark.createDataFrame(
        [("u3", t1 + " tailtwo"), ("z9", " ".join(f"qq{i}" for i in range(160)))],
        "url string, text string",
    ).select(
        "url", F.lit("2024-01-02 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"), "text",
    )
    cfg = DedupConfig()
    store = StageStore(tmp_path / "s")
    run_dedup(spark, base, store, cfg, use_extracted=False)
    saved = {
        st: (Path(store.root) / st / "MANIFEST.json").read_text() for st in order
    }
    done = run_incremental(spark, delta, store, cfg, use_extracted=False)
    want = _partition(done.labels)

    # reconstruct the crash state: stages after the crash point revert
    idx = order.index(crash_after)
    for st in order[idx + 1:]:
        (Path(store.root) / st / "MANIFEST.json").write_text(saved[st])

    res = run_incremental(spark, delta, store, cfg, use_extracted=False)
    assert _partition(res.labels) == want
    assert res.labels.groupBy("url").count().filter(F.col("count") > 1).count() == 0
    assert res.clusters.groupBy("url").count().filter(F.col("count") > 1).count() == 0
    # APPEND stages at/before the crash point were reused, not
    # recomputed (labels/clusters always redo — that redo is the
    # idempotent part of the recovery contract)
    for st in order[: idx + 1]:
        if st != "labels" and st in res.stage_seconds:
            assert res.stage_seconds[st] == 0.0, (st, res.stage_seconds)


@pytest.mark.parametrize("salt", [11, 23, 37])
def test_ingest_partition_equivalence_random_splits(spark, pages, tmp_path, salt):
    """Property over arbitrary base/delta splits: any hash split of
    the corpus (different salt = different split) must reproduce the
    full-run partition through base + ingest."""
    is_delta = F.pmod(F.xxhash64("url", F.lit(salt)), F.lit(3)) == 0
    base, delta = pages.filter(~is_delta), pages.filter(is_delta)
    cfg = DedupConfig()
    full = run_dedup(spark, pages, StageStore(tmp_path / "full"), cfg)
    store = StageStore(tmp_path / "inc")
    run_dedup(spark, base, store, cfg)
    inc = run_incremental(spark, delta, store, cfg)
    assert _partition(full.labels) == _partition(inc.labels)


def test_new_delta_completes_pending_crashed_ingest_first(spark, pages, tmp_path):
    """Delta A's ingest crashes after the extract append; the operator
    then ingests a DIFFERENT delta B. A's docs are already in the
    committed extract (B's anti-join would skip them) — the run must
    first complete A's pending ingest, then fold B, ending at the
    full-corpus partition."""
    from pathlib import Path

    from epstein_pipeline_spark.plans.pipeline import extract_stage

    h = F.pmod(F.xxhash64("url"), F.lit(5))
    base = pages.filter(h >= 2)
    da = pages.filter(h == 0)
    db = pages.filter(h == 1)
    cfg = DedupConfig()
    full = run_dedup(spark, pages, StageStore(tmp_path / "full"), cfg)

    store = StageStore(tmp_path / "inc")
    run_dedup(spark, base, store, cfg)
    # crash simulation: delta A got only as far as the extract append
    store.append("extract", extract_stage(da))

    res = run_incremental(spark, db, store, cfg)
    assert _partition(full.labels) == _partition(res.labels)
    assert store.latest("extract")["rows"] == pages.count()
    assert res.labels.groupBy("url").count().filter(F.col("count") > 1).count() == 0


def test_large_delta_shuffled_path_matches_broadcast(spark, pages, tmp_path):
    """ingest_broadcast_max_rows=0 forces every delta-derived key join
    onto the shuffled fallback (the backfill-sized-delta path, r3
    verdict #1): the resulting url partition must equal both the
    broadcast-path ingest and the full run."""
    is_delta = F.pmod(F.xxhash64("url"), F.lit(4)) == 0
    base, delta = pages.filter(~is_delta), pages.filter(is_delta)
    full = run_dedup(spark, pages, StageStore(tmp_path / "full"), DedupConfig())

    store = StageStore(tmp_path / "inc")
    run_dedup(spark, base, store, DedupConfig())
    cfg_shuffled = DedupConfig(ingest_broadcast_max_rows=0)
    inc = run_incremental(spark, delta, store, cfg_shuffled)

    assert _partition(full.labels) == _partition(inc.labels)
    assert _cluster_partition(full.clusters) == _cluster_partition(inc.clusters)


def test_freshness_rule_survives_backwards_clock_step(spark, pages, tmp_path):
    """A wall-clock step backwards between ingests must not let a
    PREVIOUS delta's stage snapshots pass as fresh for a new delta
    (r3 advice: compare extract snapshot ids, not committed_at).
    Simulated by pushing every committed manifest's committed_at far
    into the future before the second ingest."""
    import json
    from pathlib import Path

    h = F.pmod(F.xxhash64("url"), F.lit(4))
    base, d1, d2 = pages.filter(h > 1), pages.filter(h == 1), pages.filter(h == 0)
    full = run_dedup(spark, pages, StageStore(tmp_path / "full"), DedupConfig())

    store = StageStore(tmp_path / "inc")
    run_dedup(spark, base, store, DedupConfig())
    run_incremental(spark, d1, store, DedupConfig())

    # the clock now "steps back": every existing commit appears to be
    # from the future relative to the next run's timestamps
    for mf in Path(tmp_path / "inc").glob("*/MANIFEST.json"):
        m = json.loads(mf.read_text())
        m["committed_at"] = m["committed_at"] + 10_000_000.0
        mf.write_text(json.dumps(m))

    inc = run_incremental(spark, d2, store, DedupConfig())
    # the d2 stages must have actually run (a timestamp-based rule
    # would have reused d1's snapshots and silently dropped d2's work)
    assert inc.stage_seconds["signatures"] > 0.0
    assert inc.stage_seconds["minhash_candidates"] > 0.0
    assert _partition(full.labels) == _partition(inc.labels)
    assert _cluster_partition(full.clusters) == _cluster_partition(inc.clusters)


def test_reingest_after_full_compaction_is_a_noop(spark, pages, tmp_path):
    """Compacting a store (INCLUDING extract — which rewrites the
    snapshot id every downstream freshness pointer references) must
    not make the next ingest misclassify completed work: re-ingesting
    the same pages after `compact` of every chained stage is a no-op —
    no re-folded delta, no duplicate pair evidence appended. Caught
    live on the CLI drive: without the pointer remap, pairs doubled
    472 -> 944 at constant docs/clusters."""
    is_delta = F.pmod(F.xxhash64("url"), F.lit(4)) == 0
    store = StageStore(tmp_path / "s")
    cfg = DedupConfig()
    run_dedup(spark, pages.filter(~is_delta), store, cfg)
    run_incremental(spark, pages.filter(is_delta), store, cfg)
    pairs_before = store.read(spark, "pairs").count()
    sig_snap_before = store.latest("signatures")["snapshot"]

    # the CLI's compact loop: every chained stage, extract included
    import os

    for st in sorted(os.listdir(tmp_path / "s")):
        if not st.startswith("_") and store.has(st):
            store.compact(spark, st)

    inc = run_incremental(spark, pages, store, cfg)
    assert store.read(spark, "pairs").count() == pairs_before
    assert store.latest("signatures")["snapshot"] != sig_snap_before  # compacted...
    assert len(store.latest("signatures").get("paths", ["x"])) == 1   # ...to one
    # the empty-delta fast path: nothing recomputed
    assert inc.stage_seconds.get("extract", 0.0) == 0.0
    assert "signatures" not in inc.stage_seconds or inc.stage_seconds["signatures"] == 0.0
    assert inc.docs_in == pages.count()


def test_compact_extract_refuses_pending_ingest(spark, tmp_path):
    """Compacting extract while an ingest is incomplete would turn the
    crash-recovery delta (extract chain's last snapshot) into the
    ENTIRE corpus; compact must refuse until the ingest completes."""
    from epstein_pipeline_spark.plans.checkpoint import PendingIngestError

    t1 = " ".join(f"w{i}" for i in range(120))
    base = spark.createDataFrame([("u1", t1), ("u2", t1 + " t")],
                                 "url string, text string").select(
        "url", F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"), "text",
    )
    store = StageStore(tmp_path / "s")
    run_dedup(spark, base, store, DedupConfig(), use_extracted=False)

    # crashed ingest: the delta's extract append landed, downstream not
    delta = spark.createDataFrame([("z1", " ".join(f"q{i}" for i in range(150)))],
                                  "url string, text string").select(
        "url", F.lit("2024-01-02 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"), "text",
    )
    from epstein_pipeline_spark.functions.text import (
        content_hash_expr,
        normalize_text_expr,
    )

    docs_delta = delta.select(
        "url", "warc_ts", "lang",
        F.col("text").alias("extracted_text"),
        normalize_text_expr("text").alias("text"),
    ).withColumn("content_hash", content_hash_expr("text"))
    m_ex = store.append("extract", docs_delta)
    # ...and the crash also landed after the signatures append (the
    # chain now encodes recovery structure for BOTH stages)
    from epstein_pipeline_spark.plans.incremental import _delta_signatures

    store.append(
        "signatures",
        _delta_signatures(spark.read.parquet(m_ex["path"]), DedupConfig()),
        extra={"for_extract_snapshot": m_ex["snapshot"]},
    )

    with pytest.raises(PendingIngestError):
        store.compact(spark, "extract")
    # the guard is store-wide, not extract-only: the append chains ARE
    # the recovery structure, and compacting `signatures` mid-pending
    # reproduced the same duplicate-pair-evidence corruption (2nd
    # review pass, verified live)
    with pytest.raises(PendingIngestError):
        store.compact(spark, "signatures")

    # completing the pending ingest (empty new batch triggers the
    # recovery branch) makes compaction legal again
    run_incremental(spark, delta.limit(0), store, DedupConfig(), use_extracted=False)
    ms = store.compact(spark, "signatures")
    assert len(ms.get("paths", [ms["path"]])) == 1
    m = store.compact(spark, "extract")
    assert len(m.get("paths", [m["path"]])) == 1
