"""StageStore: atomic snapshot commits, lineage rows, anti-join resume
(reference state.py:15-111 semantics)."""

import shutil
from pathlib import Path

from pyspark.sql import functions as F

from epstein_pipeline_spark.plans.checkpoint import StageStore, lineage_rows, resume_filter


def test_commit_read_roundtrip(spark, tmp_path):
    store = StageStore(tmp_path)
    df = spark.range(100).withColumnRenamed("id", "url")
    m = store.commit("stage_a", df, {"docs_in": 100})
    assert m["rows"] == 100 and m["snapshot"] == 0
    assert store.has("stage_a") and not store.has("stage_b")
    back = store.read(spark, "stage_a")
    assert back.count() == 100


def test_snapshot_increments(spark, tmp_path):
    store = StageStore(tmp_path)
    store.commit("s", spark.range(10))
    m = store.commit("s", spark.range(20))
    assert m["snapshot"] == 1
    assert store.read(spark, "s").count() == 20


def test_lineage_rows(spark, tmp_path):
    store = StageStore(tmp_path)
    store.commit("s1", spark.range(50).repartition(4))
    store.commit("s2", spark.range(10))
    lin = store.lineage(spark)
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == {"s1", "s2"}
    total = lin.filter(F.col("stage") == "s1").agg(F.sum("rows_out")).first()[0]
    assert total == 50


def test_resume_filter_anti_join(spark):
    inputs = spark.createDataFrame([(f"u{i}",) for i in range(10)], "url string")
    done = spark.createDataFrame([("u1",), ("u5",)], "url string")
    remaining = {r["url"] for r in resume_filter(inputs, done).collect()}
    assert remaining == {f"u{i}" for i in range(10)} - {"u1", "u5"}


def test_invalidate(spark, tmp_path):
    store = StageStore(tmp_path)
    store.commit("s", spark.range(5))
    store.invalidate("s")
    assert not store.has("s")


def test_shuffle_byte_counters(spark, tmp_path):
    """north rule: lineage counters include shuffle bytes. A commit
    whose plan shuffles records positive shuffle_write_bytes; the
    counters ride in the manifest next to caller-provided ones."""
    store = StageStore(tmp_path)
    shuffled = (
        spark.range(20_000)
        .withColumn("k", F.pmod(F.col("id"), F.lit(64)))
        .repartition(8, "k")  # explicit exchange => shuffle write
        .groupBy("k")
        .count()
    )
    m = store.commit("agg", shuffled, {"docs_in": 20_000})
    c = m["counters"]
    assert c["docs_in"] == 20_000
    assert "shuffle_read_bytes" in c and "shuffle_write_bytes" in c
    assert c["shuffle_write_bytes"] > 0
    # a map-only commit right after must not inherit the agg's bytes:
    # totals are snapshotted around each write action, and the
    # snapshot's listener-bus drain (inside _executor_totals) delivers
    # the agg job's async metrics BEFORE the map-only window opens —
    # the == 0 pin relies on that drain, not on luck
    m2 = store.commit("maponly", spark.range(10))
    assert m2["counters"]["shuffle_write_bytes"] == 0


def test_task_counters(spark, tmp_path):
    """Each commit records the tasks its write ran and their summed
    time, from the same executor-summary deltas as the shuffle bytes:
    a 3-partition map-only write is exactly 3 tasks."""
    store = StageStore(tmp_path)
    m = store.commit("three", spark.range(0, 30, 1, numPartitions=3))
    assert m["counters"]["tasks"] == 3
    assert "task_ms" in m["counters"]


def test_two_writer_append_conflict(spark, tmp_path):
    """Optimistic concurrency (Iceberg's commit contract, reference
    analog: SQLite state's transactional mark_processed,
    state.py:62-76): two writers against one stage — the writer whose
    parent went stale RAISES CommitConflictError instead of silently
    last-writer-winning; the interloper's commit survives intact, and
    a recompute-from-new-head retry then succeeds."""
    import pytest

    from epstein_pipeline_spark.plans.checkpoint import CommitConflictError

    store = StageStore(tmp_path)
    store.commit("s", spark.range(10))

    # interleave writer B between A's parent read and A's publish by
    # wrapping the snapshot write (the realistic race: both ingests
    # read the same head, both write snapshot files, B publishes first)
    other = StageStore(tmp_path)
    orig = store._write_snapshot
    raced = {"done": False}

    def write_and_race(stage, df, counters):
        m = orig(stage, df, counters)
        if not raced["done"]:
            raced["done"] = True
            other.commit("s", spark.range(7))  # writer B publishes first
        return m

    store._write_snapshot = write_and_race
    with pytest.raises(CommitConflictError):
        store.append("s", spark.range(5))
    store._write_snapshot = orig

    # B's commit is the surviving head; the store is complete/readable
    assert store.read(spark, "s").count() == 7
    # A recomputes against the new head and retries: clean append
    m = store.append("s", spark.range(5))
    assert m["delta_rows"] == 5 and m["parent_snapshot"] is not None
    assert store.read(spark, "s").count() == 12


def test_concurrent_snapshot_ids_never_collide(spark, tmp_path):
    """The reservation marker: a second writer starting while the
    first writer's snapshot dir is mid-write (or momentarily deleted
    by Spark's overwrite) must pick a DIFFERENT snapshot id."""
    store = StageStore(tmp_path)
    store.commit("s", spark.range(3))
    # simulate writer A holding a reservation for the next id
    (store._stage_dir("s") / ".reserve-1").touch()
    m = store.commit("s", spark.range(4))
    assert m["snapshot"] == 2  # skipped the reserved id


def test_dead_writer_lock_never_blocks(spark, tmp_path):
    """A writer killed mid-publish leaves its lock FILE behind but the
    kernel released its flock with the process — the next writer
    acquires immediately instead of deadlocking (crash-matrix
    recovery contract). A LIVE holder, by contrast, blocks a second
    acquirer until release (flock mutual exclusion, in-file pid is
    diagnostics only)."""
    import json as _json

    store = StageStore(tmp_path)
    store.commit("s", spark.range(2))
    lock = store._stage_dir("s") / ".MANIFEST.lock"
    # dead-writer residue: file exists, nobody holds the flock
    lock.write_text(_json.dumps({"pid": 2**22 + 12345, "ts": 0.0}))
    m = store.commit("s", spark.range(6))  # must not block or raise
    assert m["rows"] == 6

    # live holder: a second publish times out instead of double-entering
    import pytest

    with store._manifest_lock("s"):
        with pytest.raises(TimeoutError):
            with store._manifest_lock("s", timeout=0.3):
                pass


def test_compact_carries_freshness_keys(spark, tmp_path):
    """compact() must carry for_extract_snapshot (the id the
    incremental freshness rule compares) and delta_rows (the broadcast
    gate's bound) into the rewritten manifest — dropping them made the
    next ingest misclassify a completed ingest as crashed and re-fold
    the latest extract delta."""
    store = StageStore(tmp_path)
    store.commit("t", spark.range(10), extra={"for_extract_snapshot": 4})
    store.append("t", spark.range(3), extra={"for_extract_snapshot": 5})
    m = store.compact(spark, "t")
    assert m["for_extract_snapshot"] == 5
    assert m["delta_rows"] == 3
    assert len(m.get("paths", [m["path"]])) == 1
    assert store.read(spark, "t").count() == 13


def test_expire_snapshots_root_spelling_invariant(spark, tmp_path):
    """expire_snapshots compares snapshot-directory NAMES: reopening
    the store under a different root spelling (here: a path routed
    through '..') must not treat every referenced snapshot as
    unreferenced and delete live data."""
    store = StageStore(tmp_path)
    store.commit("t", spark.range(10))
    store.append("t", spark.range(5))
    respelled = tmp_path / "x" / ".." 
    store2 = StageStore(respelled)
    assert store2.expire_snapshots("t") == []
    assert store2.read(spark, "t").count() == 15


def test_conflict_orphan_snapshot_expired(spark, tmp_path):
    """A conflict-losing writer leaves its written-but-unpublished
    snapshot dir on disk (its id was reserved, its manifest never
    published). expire_snapshots — the maintenance path — removes
    exactly that orphan and nothing referenced."""
    import pytest

    from epstein_pipeline_spark.plans.checkpoint import CommitConflictError

    store = StageStore(tmp_path)
    store.commit("s", spark.range(10))
    other = StageStore(tmp_path)
    orig = store._write_snapshot
    raced = {"done": False}

    def write_and_race(stage, df, counters):
        m = orig(stage, df, counters)
        if not raced["done"]:
            raced["done"] = True
            other.commit("s", spark.range(7))
        return m

    store._write_snapshot = write_and_race
    with pytest.raises(CommitConflictError):
        store.append("s", spark.range(5))
    store._write_snapshot = orig

    dirs_before = {p.name for p in (tmp_path / "s").glob("snapshot-*")}
    removed = store.expire_snapshots("s")
    # loser's orphan + the superseded snapshot-0 go; winner's stays
    assert len(removed) == 2
    m = store.latest("s")
    kept = {p.name for p in (tmp_path / "s").glob("snapshot-*")}
    assert kept == {m["path"].rsplit("/", 1)[-1]} and len(dirs_before) == 3
    assert store.read(spark, "s").count() == 7


def test_time_travel_read(spark, tmp_path):
    """read(as_of=) returns the stage exactly as each published
    snapshot saw it — the Iceberg time-travel contract — including
    append chains, where snapshot k's manifest unions only the deltas
    committed up to k."""
    store = StageStore(tmp_path)
    m0 = store.commit("t", spark.range(10))
    m1 = store.append("t", spark.range(10, 15))
    m2 = store.append("t", spark.range(15, 17))
    assert store.read(spark, "t").count() == 17
    assert store.read(spark, "t", as_of=m0["snapshot"]).count() == 10
    assert store.read(spark, "t", as_of=m1["snapshot"]).count() == 15
    assert store.read(spark, "t", as_of=m2["snapshot"]).count() == 17
    heads = [e["snapshot"] for e in store.snapshots("t")]
    # publish order preserved; append's two-step first commit logs
    # snapshot 0 twice (delta_rows backfill supersedes), then 1, 2
    assert heads[-2:] == [1, 2] and heads[0] == 0


def test_rollback_restores_old_head(spark, tmp_path):
    """rollback() re-publishes a historical manifest as the head:
    readers flip atomically, data files untouched, and subsequent
    appends chain off the rolled-back state."""
    store = StageStore(tmp_path)
    m0 = store.commit("t", spark.range(10))
    store.append("t", spark.range(10, 15))
    store.rollback("t", m0["snapshot"])
    assert store.latest("t")["snapshot"] == m0["snapshot"]
    assert store.read(spark, "t").count() == 10
    store.append("t", spark.range(100, 102))
    assert store.read(spark, "t").count() == 12


def test_time_travel_after_expire_raises(spark, tmp_path):
    """expire_snapshots breaks time-travel to the expired snapshots
    (Iceberg semantics): read(as_of=) and rollback() must fail with a
    clear error, never silently read a partial chain."""
    import pytest

    store = StageStore(tmp_path)
    m0 = store.commit("t", spark.range(10))
    store.append("t", spark.range(10, 15))
    store.compact(spark, "t")
    store.expire_snapshots("t")
    with pytest.raises(FileNotFoundError, match="expired"):
        store.read(spark, "t", as_of=m0["snapshot"])
    with pytest.raises(FileNotFoundError):
        store.rollback("t", m0["snapshot"])
    # the compacted head still reads fine, with and without as_of
    head = store.latest("t")["snapshot"]
    assert store.read(spark, "t", as_of=head).count() == 15


def test_snapshots_pre_log_store_folds_in_head(spark, tmp_path):
    """Stores written before the metadata log existed have a manifest
    but no MANIFEST.log — snapshots() must still report the live head
    (and time-travel to it must work)."""
    store = StageStore(tmp_path)
    m = store.commit("t", spark.range(7))
    (store._stage_dir("t") / "MANIFEST.log").unlink()
    snaps = store.snapshots("t")
    assert [e["snapshot"] for e in snaps] == [m["snapshot"]]
    assert store.read(spark, "t", as_of=m["snapshot"]).count() == 7


def test_read_ignores_unlisted_files(spark, tmp_path):
    """read loads the files the manifest lists, not whatever sits in a
    snapshot directory: a stray parquet file planted in a published
    snapshot (a late task attempt, a copy) is never data — neither for
    the head nor for time travel."""
    store = StageStore(tmp_path)
    m0 = store.commit("s", spark.range(0, 40, 1, numPartitions=4))
    store.append("s", spark.range(40, 50))
    snap = Path(m0["path"])
    shutil.copy(next(snap.glob("part-*.parquet")), snap / "part-99999-stray.parquet")
    assert store.read(spark, "s").count() == 50
    assert store.read(spark, "s", as_of=m0["snapshot"]).count() == 40


def test_read_refuses_missing_listed_file(spark, tmp_path):
    """A listed data file that is gone fails the read (and a rollback
    to its snapshot) instead of silently dropping its rows."""
    import pytest

    store = StageStore(tmp_path)
    m0 = store.commit("s", spark.range(0, 40, 1, numPartitions=4))
    store.commit("s", spark.range(3))
    (Path(m0["path"]) / m0["files"][0][0]["name"]).unlink()
    with pytest.raises(FileNotFoundError, match="missing"):
        store.read(spark, "s", as_of=m0["snapshot"])
    with pytest.raises(FileNotFoundError, match="missing"):
        store.rollback("s", m0["snapshot"])
    assert store.read(spark, "s").count() == 3


def test_empty_commit_reads_back_with_schema(spark, tmp_path):
    """An empty commit reads back as 0 rows with its schema, and so
    does the (empty) parent part of an unchained stage."""
    store = StageStore(tmp_path)
    store.commit("e", spark.range(10).selectExpr("id AS url", "'x' AS t").limit(0))
    back = store.read(spark, "e")
    assert back.count() == 0 and back.columns == ["url", "t"]
    assert back.schema == spark.read.parquet(store.latest("e")["path"]).schema
    parents = store.read_part(spark, "e", "parents")
    assert parents.count() == 0 and parents.schema == back.schema


def test_read_part_splits_the_chain(spark, tmp_path):
    """read_part: "delta" is the last appended snapshot, "parents"
    everything before it."""
    store = StageStore(tmp_path)
    store.commit("t", spark.range(10))
    store.append("t", spark.range(10, 13))
    assert sorted(r.id for r in store.read_part(spark, "t", "delta").collect()) == [10, 11, 12]
    assert store.read_part(spark, "t", "parents").count() == 10


def test_lineage_from_manifests_only(spark, tmp_path):
    """Per-partition lineage comes from the manifests: one row per
    data file of each published snapshot, no _lineage directory, and
    a missing root yields no rows without being created."""
    store = StageStore(tmp_path)
    store.commit("s", spark.range(0, 30, 1, numPartitions=3))
    store.append("s", spark.range(0, 5, 1, numPartitions=1))
    rows = lineage_rows(tmp_path)
    assert [(r[1], r[2], r[3]) for r in rows] == [(0, 0, 10), (0, 1, 10), (0, 2, 10), (1, 0, 5)]
    assert not (tmp_path / "_lineage").exists()
    assert lineage_rows(tmp_path / "nope") == [] and not (tmp_path / "nope").exists()
