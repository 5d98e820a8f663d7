"""Stage checkpoint store with committed snapshots — the
Iceberg-commit stand-in for the sandbox.

Reference semantics being reproduced (not code): SQLite
``processing_state(file_hash, stage, result_path, completed_at)`` with
``get_unprocessed`` anti-join resume (/root/reference/src/
epstein_pipeline/state.py:15-111) and output-file-existence resume
(processors/ocr.py:917-931).

Design: each stage writes parquet to ``<root>/<stage>/snapshot-<k>/``
and then commits by atomically renaming a manifest json into place —
readers only ever see fully-written snapshots (the Iceberg snapshot
contract). On a real cluster this class is swapped for Iceberg tables
(``df.writeTo(tbl).createOrReplace()``); the interface is kept
deliberately narrow so only this module knows the on-disk layout.

One record per commit: the manifest (``MANIFEST.json``, plus its line
in ``MANIFEST.log``) alone says what a snapshot is — its data files
(name, rows, bytes per file, read from the parquet footers and aligned
with ``paths`` across an append chain), its schema, and stage-level
counters (docs_in, docs_out, pairs_emitted, plus shuffle_read_bytes /
shuffle_write_bytes / tasks / task_ms / gc_ms measured around the write
action from the AppStatusStore executor totals, the codegen_classes the
JVM compiled for it, and the write's own wall_ms), read back via
``latest(stage)["counters"]`` / ``stage_shuffle_write_mb``. ``read``
loads exactly the listed files with the recorded schema, so it starts
no Spark job and a stray file in a snapshot directory is never data.
Per-partition lineage (stage, snapshot, partition_id, rows_out,
approx_bytes, committed_at) is derived from the manifests by
``lineage_rows`` — the per-partition evidence the north rule requires
for resumability audits.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from pathlib import Path
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pyspark stays unimported: `main.py lineage` runs without it
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.types import StructType

_EXECUTOR_TOTALS = (
    ("shuffle_read_bytes", "totalShuffleRead"),
    ("shuffle_write_bytes", "totalShuffleWrite"),
    ("tasks", "totalTasks"),
    ("task_ms", "totalDuration"),
    ("gc_ms", "totalGCTime"),
)


def _executor_totals(spark) -> dict[str, int] | None:
    """Cumulative shuffle bytes read/written, tasks run, task time and
    JVM GC time (ms) across all executors, from the AppStatusStore that
    backs the Spark UI (present even with ``spark.ui.enabled=false``).
    Executor summaries are app-lifetime totals and are never evicted
    (unlike per-stage data, which ``spark.ui.retainedStages`` rolls
    over), so snapshot deltas around a stage's write action attribute
    that stage's shuffle traffic — the "shuffle bytes" counter the north
    rule's lineage requires — and its task count, the per-task fixed
    cost that dominates small Python stages. Listener-bus delivery is
    async, so totals can lag task completion by a beat; counters here
    are evidence, not accounting. ``codegen_classes`` counts the
    classes Spark's code generator compiled in the driver's JVM (the
    executors' too on a local master; each is a miss of its class
    cache, so a repeated plan compiles none). Returns None when the
    internal API is unavailable (counters are then simply omitted —
    never fail a commit over metrics)."""
    try:
        jsc = spark.sparkContext._jsc.sc()
        try:
            # metrics flow through the async listener bus; drain it so
            # the snapshot reflects the job that just finished
            jsc.listenerBus().waitUntilEmpty()
        except Exception:
            pass
        jstore = jsc.statusStore()
        execs = jstore.executorList(False)  # active + dead, all of them
        totals = dict.fromkeys((k for k, _ in _EXECUTOR_TOTALS), 0)
        for i in range(execs.size()):
            e = execs.apply(i)
            for k, getter in _EXECUTOR_TOTALS:
                totals[k] += int(getattr(e, getter)())
        codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        totals["codegen_classes"] = int(codegen.METRIC_COMPILATION_TIME().getCount())
        return totals
    except Exception:
        return None


class PendingIngestError(RuntimeError):
    """Raised by ``compact('extract')`` when downstream stages were not
    computed from the current extract head — an ingest crashed or is
    still running, and collapsing the extract chain would turn its
    crash-recovery delta into the entire corpus (duplicate pair
    evidence appended forever). Complete the ingest, then compact."""


class CommitConflictError(RuntimeError):
    """Raised when a commit's parent snapshot is no longer the stage's
    current snapshot — another writer published first. Iceberg's
    optimistic-concurrency contract: the STALE committer fails (and may
    recompute + retry from the new head); it is never silently
    overwritten by last-writer-wins (reference analog: SQLite state's
    transactional ``mark_processed``, state.py:62-76)."""


class StageStore:
    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------
    def _stage_dir(self, stage: str) -> Path:
        return self.root / stage

    def _manifest(self, stage: str) -> Path:
        return self._stage_dir(stage) / "MANIFEST.json"

    def latest(self, stage: str) -> dict | None:
        return manifest_head(self._stage_dir(stage))

    def has(self, stage: str) -> bool:
        return self.latest(stage) is not None

    def check_schema(self, stage: str, schema: StructType, manifest: dict | None = None) -> None:
        """Raise ``ValueError`` when ``stage`` (or ``manifest``, one of
        its snapshots) was committed with a schema other than
        ``schema``: a store built by an older engine
        version, whose chain must not be read or appended to as the
        current shape. No-op for a stage with no snapshot."""
        m = manifest or self.latest(stage)
        if m is None:
            return
        from pyspark.sql.types import StructType

        have = StructType.fromJson(json.loads(m["schema"])).simpleString()
        if schema.simpleString() != have:
            raise ValueError(
                f"stage '{stage}': expected {schema.simpleString()}, the store "
                f"holds {have}; the store was built with another schema — "
                "rebuild it (run dedup into a fresh store)"
            )

    # -- commit / read ---------------------------------------------------
    def commit(
        self,
        stage: str,
        df: DataFrame,
        counters: dict | None = None,
        extra: dict | None = None,
        expected_parent: object = "_CAPTURE_",
    ) -> dict:
        """Write df as the next snapshot of `stage` and atomically commit
        its manifest. ``extra`` keys are merged into
        the manifest (e.g. ``for_extract_snapshot`` — the lineage
        pointer the incremental plan's freshness rule compares; an id
        comparison is immune to wall-clock steps between process
        restarts, unlike the committed_at timestamps).

        Optimistic concurrency: the stage's current snapshot id is
        captured at entry (or passed by callers that read the stage
        earlier, e.g. ``compact``); if another writer publishes in the
        meantime, ``_publish`` raises ``CommitConflictError`` instead
        of silently dropping their commit."""
        if expected_parent == "_CAPTURE_":
            cur = self.latest(stage)
            expected_parent = cur["snapshot"] if cur else None
        m = self._write_snapshot(stage, df, counters)
        if extra:
            m = dict(m, **extra)
        self._publish(stage, m, expected_parent=expected_parent)
        return m

    @contextlib.contextmanager
    def _manifest_lock(self, stage: str, timeout: float = 30.0):
        """Short exclusive lock around _publish's read-check-swap (the
        only multi-step critical section; snapshot writes themselves
        never hold it). ``fcntl.flock`` on a persistent lock file: the
        KERNEL owns liveness — a writer killed mid-publish (crash
        matrix) has its lock released when the fd closes, so recovery
        never blocks and there is no steal-by-delete race (a
        read-pid-then-unlink steal lets two waiters who both saw a
        dead holder unlink each other's freshly-acquired lock — the
        exact double-entry the lock exists to prevent). The pid is
        written into the file for DIAGNOSTICS only; it plays no role
        in mutual exclusion. Local-FS only by design: on a real
        cluster this whole class is swapped for Iceberg, whose catalog
        provides the compare-and-swap."""
        import fcntl

        sdir = self._stage_dir(stage)
        sdir.mkdir(parents=True, exist_ok=True)
        fd = os.open(sdir / ".MANIFEST.lock", os.O_CREAT | os.O_RDWR)
        try:
            deadline = time.time() + timeout
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except (BlockingIOError, InterruptedError):
                    if time.time() > deadline:
                        try:
                            holder = os.read(fd, 256).decode(errors="replace")
                        except OSError:
                            holder = "?"
                        raise TimeoutError(
                            f"manifest lock for stage '{stage}' still held "
                            f"past {timeout}s (holder info: {holder!r})"
                        )
                    time.sleep(0.05)
            os.ftruncate(fd, 0)
            os.pwrite(fd, json.dumps({"pid": os.getpid(), "ts": time.time()}).encode(), 0)
            yield
        finally:
            os.close(fd)  # releases the flock

    def _publish(
        self, stage: str, manifest: dict, expected_parent: object = "_SKIP_"
    ) -> None:
        with self._manifest_lock(stage):
            if expected_parent != "_SKIP_":
                cur = self.latest(stage)
                cur_id = cur["snapshot"] if cur else None
                if cur_id != expected_parent:
                    raise CommitConflictError(
                        f"stage '{stage}': expected parent snapshot "
                        f"{expected_parent} but current is {cur_id} — "
                        "another writer committed first; recompute from "
                        "the new head and retry"
                    )
            tmp = self._stage_dir(stage) / f".manifest-{uuid.uuid4().hex}.tmp"
            tmp.write_text(json.dumps(manifest, indent=2))
            os.replace(tmp, self._manifest(stage))  # atomic commit
            # metadata log (Iceberg's metadata-log analog): every
            # published manifest is appended as one JSON line, enabling
            # time-travel reads + rollback. Appended AFTER the head
            # swap, still under the lock: a crash between the two
            # leaves the head valid and merely un-logged — snapshots()
            # folds the live head back in, so history never lies about
            # the present, only (harmlessly) about one past state.
            with open(self._stage_dir(stage) / "MANIFEST.log", "a") as f:
                f.write(json.dumps(dict(manifest, published_at=time.time())) + "\n")

    def _write_snapshot(self, stage: str, df: DataFrame, counters: dict | None) -> dict:
        """Write snapshot files; return the manifest dict
        WITHOUT publishing it (callers publish exactly once — append
        must never expose a delta-only intermediate manifest)."""
        # never reuse a snapshot id, even after invalidate(): old readers
        # may still hold DataFrames over earlier snapshot files
        # (Iceberg's snapshots-are-immutable contract). The id is
        # RESERVED via an O_EXCL marker before writing: Spark's
        # overwrite mode deletes the output dir momentarily, so a
        # concurrent writer scanning only snapshot-* dirs could pick
        # the same id and the two writes would interleave into one
        # directory — the marker closes that window (optimistic
        # concurrency then fails the stale committer at _publish).
        sdir = self._stage_dir(stage)
        sdir.mkdir(parents=True, exist_ok=True)
        taken = {
            int(p.name.split("-", 1)[1])
            for pat in ("snapshot-*", ".reserve-*")
            for p in sdir.glob(pat)
            if p.name.split("-", 1)[1].isdigit()
        }
        snap_id = (max(taken) + 1) if taken else 0
        while True:
            try:
                os.close(
                    os.open(
                        sdir / f".reserve-{snap_id}", os.O_CREAT | os.O_EXCL | os.O_WRONLY
                    )
                )
                break
            except FileExistsError:
                snap_id += 1
        out_dir = sdir / f"snapshot-{snap_id}"
        ex0 = _executor_totals(df.sparkSession)
        t0 = time.perf_counter()
        df.write.mode("overwrite").parquet(str(out_dir))
        wall_ms = round((time.perf_counter() - t0) * 1000)
        # the directory now claims the id; the reservation marker has
        # done its job (a crash before this line leaves an orphan
        # marker, which merely skips an id — harmless)
        (sdir / f".reserve-{snap_id}").unlink(missing_ok=True)
        ex1 = _executor_totals(df.sparkSession)
        counters = dict(counters or {}, wall_ms=wall_ms)
        if ex0 is not None and ex1 is not None:
            # the write action is what executes the (lazy) stage plan,
            # so the delta is this stage's shuffle traffic and tasks;
            # clamped in case an executor summary was replaced mid-window
            counters.update({k: max(0, ex1[k] - ex0[k]) for k in ex1})

        # the snapshot's file list from the parquet footers — driver-
        # side metadata reads, no Spark job. From here on the manifest,
        # not the directory, says which files the snapshot has.
        import pyarrow.parquet as pq

        files = [
            {"name": f.name, "rows": pq.ParquetFile(f).metadata.num_rows, "bytes": f.stat().st_size}
            for f in sorted(out_dir.glob("*.parquet"))
        ]
        return {
            "stage": stage,
            "snapshot": snap_id,
            "path": str(out_dir),
            "files": [files],  # one list per chain path: a chain appends to it
            "schema": df.schema.json(),
            "rows": sum(f["rows"] for f in files),
            "bytes": sum(f["bytes"] for f in files),
            "counters": counters or {},
            "committed_at": time.time(),
        }

    def append(
        self,
        stage: str,
        delta: DataFrame,
        counters: dict | None = None,
        extra: dict | None = None,
    ) -> dict:
        """Commit ``delta`` as an APPEND snapshot: the new manifest
        carries the parent's data paths and file lists plus the
        delta's, and ``read`` returns their union — the Iceberg
        append-snapshot contract (incremental ingest never rewrites
        committed data files).
        The chained manifest is published exactly once (atomically);
        falls back to a plain commit when the stage has no snapshot.

        Manifest invariants the incremental plan's crash recovery
        relies on (asserted here so they are executable, not comments):
        ``paths`` lists snapshots in COMMIT ORDER with the just-written
        delta LAST, and ``delta_rows`` records that last snapshot's own
        row count (``rows`` stays cumulative).

        Optimistic concurrency: the parent read here is the commit's
        expected head — if a concurrent writer publishes between this
        read and ``_publish``, this append raises
        ``CommitConflictError`` (its delta was derived against a stale
        parent and must be recomputed), never last-writer-wins."""
        parent = self.latest(stage)
        if parent is None:
            m = self.commit(stage, delta, counters, extra, expected_parent=None)
            if "delta_rows" not in m:
                m = dict(m, delta_rows=m["rows"])
                self._publish(stage, m, expected_parent=m["snapshot"])
            return m
        # the chain records ONE schema, which ``read`` applies to every
        # file in it: a delta of another shape would misread the parent files
        self.check_schema(stage, delta.schema, parent)
        m = self._write_snapshot(stage, delta, counters)
        m = dict(
            m,
            paths=parent.get("paths", [parent["path"]]) + [m["path"]],
            files=parent["files"] + m["files"],
            rows=parent["rows"] + m["rows"],
            bytes=parent["bytes"] + m["bytes"],
            delta_rows=m["rows"],
            parent_snapshot=parent["snapshot"],
        )
        if extra:
            m = dict(m, **extra)
        assert m["paths"][-1] == m["path"] and len(m["files"]) == len(m["paths"]), (
            "append manifest must list snapshot paths in commit order "
            "with the in-flight delta last, one file list per path"
        )
        self._publish(stage, m, expected_parent=parent["snapshot"])
        return m

    def compact(self, spark: SparkSession, stage: str) -> dict:
        """Rewrite an append chain into one snapshot (Iceberg's
        rewrite_data_files maintenance action): read the chained
        manifest, write a single new snapshot, publish. Old snapshot
        files stay on disk for readers holding earlier manifests
        (snapshots are immutable; expiry is the owner's policy)."""
        m = self.latest(stage)
        if m is None or len(m.get("paths", [m["path"]])) <= 1:
            return m or {}
        # REFUSE compaction of ANY chained stage while an ingest is
        # incomplete: the append chains ARE the recovery structure —
        # crash recovery treats each stage's LAST snapshot (read_part
        # "delta") as the in-flight delta and the ones before it
        # ("parents") as the old corpus view. Collapsing any of them
        # mid-ingest turns the recovery delta into the whole corpus /
        # the whole signature table (reproduced: compacting
        # `signatures` mid-pending-ingest duplicated base-base pair
        # evidence the same way the extract case did). Iceberg analog: maintenance actions run on a
        # consistent table. Detection is run_incremental's OWN
        # completion rule: `clusters` commits LAST, so clusters fresh
        # for the extract head == the whole ingest completed. Applies
        # only to pipeline stores (an `extract` stage exists); a
        # missing/unstamped clusters on such a store means UNKNOWN —
        # refuse, and point at the remedy (an empty-delta ingest run
        # completes + re-stamps the store, after which compaction is
        # legal).
        mex = self.latest("extract")
        if mex is not None:
            head = mex["snapshot"]
            oc = self.latest("clusters")
            if oc is None or oc.get("for_extract_snapshot") != head:
                got = (oc or {}).get("for_extract_snapshot")
                raise PendingIngestError(
                    f"cannot compact '{stage}': clusters was computed from "
                    f"extract snapshot {got}, not the current head {head} — "
                    "an ingest is incomplete (or the store predates "
                    "freshness stamping); run `ingest` to completion "
                    "(an empty new batch suffices) before compacting"
                )
        # carry the freshness/gating manifest keys forward: dropping
        # for_extract_snapshot would make the next ingest's id-based
        # freshness rule misclassify the compacted stage as a crashed
        # ingest and re-fold the latest extract delta (duplicate rows
        # persisted into the chain); delta_rows keeps the broadcast
        # gate's bound for the last committed delta
        carried = {
            k: m[k] for k in ("for_extract_snapshot", "delta_rows") if k in m
        }
        if stage != "extract":
            return self.commit(
                stage,
                self.read(spark, stage),
                m.get("counters"),
                extra=carried or None,
                expected_parent=m["snapshot"],
            )

        # extract: compaction REWRITES the snapshot id every downstream
        # freshness pointer references (the manifest's `snapshot` is
        # the last appended delta's id — exactly what run_dedup /
        # run_incremental stamped downstream as for_extract_snapshot),
        # so downstream pointers are REMAPPED old_head -> new_head —
        # otherwise the next ingest misclassifies every downstream
        # stage as a crashed ingest and re-folds the entire compacted
        # corpus as a delta (measured on the CLI drive: duplicate pair
        # evidence appended, 472 -> 944 rows at 613 docs).
        #
        # ORDER: snapshot write -> remap -> publish. A crash (or a
        # persistent remap conflict) BEFORE the publish leaves the old
        # extract chain intact with some pointers naming a
        # not-yet-existing head — the next ingest simply sees clusters
        # stale and runs the pending-completion recovery against the
        # real last delta, re-stamping the pointers: consistent, just
        # re-done work. The reverse order (publish, then remap) would
        # strand a COLLAPSED chain with stale pointers — the
        # full-corpus re-fold with no recovery.
        carried.pop("delta_rows", None)  # the single snapshot IS the
        # whole corpus; a recovery path sizing the "delta" off it must
        # see its true magnitude (the broadcast gate keys on delta_rows)
        new_m = self._write_snapshot(stage, self.read(spark, stage), m.get("counters"))
        if carried:
            new_m = dict(new_m, **carried)
        old_head, new_head = m["snapshot"], new_m["snapshot"]
        for sdir in sorted(self.root.iterdir()):
            st = sdir.name
            if st.startswith("_") or st == stage or not sdir.is_dir():
                continue
            # re-read + retry on conflict (a concurrent writer bumping
            # the stage); exhausting retries RAISES — a silent partial
            # remap would publish a collapsed chain with mixed pointers
            deadline = time.time() + 10.0
            while True:
                om = self.latest(st)
                if om is None or om.get("for_extract_snapshot") != old_head:
                    break  # nothing to remap (or writer moved it on)
                try:
                    self._publish(
                        st,
                        dict(om, for_extract_snapshot=new_head),
                        expected_parent=om["snapshot"],
                    )
                    break
                except CommitConflictError:
                    if time.time() > deadline:
                        raise CommitConflictError(
                            f"compact('extract'): could not remap stage "
                            f"'{st}' off old head {old_head} (concurrent "
                            "writer kept bumping it); extract chain left "
                            "UNCHANGED — rerun compact when the store is "
                            "quiescent"
                        )
        self._publish(stage, new_m, expected_parent=old_head)
        return new_m

    def expire_snapshots(self, stage: str) -> list[str]:
        """Delete snapshot directories no longer referenced by the
        CURRENT manifest — Iceberg's ``expire_snapshots`` maintenance
        action. ``compact`` deliberately leaves the old append-chain
        dirs on disk for readers holding earlier manifests (snapshots
        are immutable); expiry is the owner's explicit policy call,
        made when no reader can still hold an old manifest. Returns
        the removed paths."""
        import shutil

        m = self.latest(stage)
        # compare by snapshot-directory NAME within the stage dir, not
        # by full path string: reopening the store under a different
        # root spelling (relative vs absolute, symlinked /tmp) would
        # make every referenced path compare unequal and rmtree live
        # data
        keep = {Path(p).name for p in m.get("paths", [m["path"]])} if m else set()
        removed: list[str] = []
        for p in sorted(self._stage_dir(stage).glob("snapshot-*")):
            if p.is_dir() and p.name not in keep:
                shutil.rmtree(p)
                removed.append(str(p))
        return removed

    def stage_shuffle_write_mb(self, stages) -> dict:
        """Per-stage shuffle-write MB from the latest manifests'
        counters; stages whose counter is unavailable are omitted.
        The single reader for bench.py / main.py reporting."""
        out = {}
        for stage in stages:
            m = self.latest(stage)
            w = (m or {}).get("counters", {}).get("shuffle_write_bytes")
            if w is not None:
                out[stage] = round(w / 1e6, 2)
        return out

    def snapshots(self, stage: str) -> list[dict]:
        """Publish-ordered manifest history for a stage — Iceberg's
        ``table.snapshots()`` / metadata-log analog."""
        return manifest_history(self._stage_dir(stage))

    def _manifest_as_of(self, stage: str, snapshot_id: int) -> dict:
        """LAST logged manifest whose head is ``snapshot_id`` (later
        publishes of the same head — e.g. compact's pointer remaps —
        supersede earlier ones, exactly like Iceberg's metadata
        rewrites that keep the same current-snapshot-id)."""
        hist = [e for e in self.snapshots(stage) if e.get("snapshot") == snapshot_id]
        if not hist:
            raise FileNotFoundError(
                f"stage '{stage}': no snapshot {snapshot_id} in the metadata "
                f"log (known: {sorted({e.get('snapshot') for e in self.snapshots(stage)})})"
            )
        return hist[-1]

    def rollback(self, stage: str, snapshot_id: int) -> dict:
        """Set the stage head back to a previously-published snapshot —
        Iceberg's ``rollback_to_snapshot``. The historical manifest
        (file lists and schema included) is re-published
        (optimistically, against the current head), so readers
        atomically flip to the old state; data files are never
        touched. Refuses if any listed data file was expired.
        NOTE: rolling back ``extract`` on a pipeline store leaves
        downstream ``for_extract_snapshot`` pointers ahead of the new
        head — the next ingest's freshness rule then recomputes
        downstream from the rolled-back corpus, which is exactly the
        semantic a rollback asks for."""
        m = self._manifest_as_of(stage, snapshot_id)
        _check_files(m, zip(m.get("paths", [m["path"]]), m["files"]))
        cur = self.latest(stage)
        self._publish(stage, m, expected_parent=cur["snapshot"] if cur else None)
        return m

    def read(
        self, spark: SparkSession, stage: str, as_of: int | None = None
    ) -> DataFrame:
        """Read the stage's committed data; ``as_of=<snapshot_id>``
        time-travels to any snapshot still on disk (expire_snapshots
        breaks time-travel to the expired ones, as in Iceberg)."""
        m = self._manifest_as_of(stage, as_of) if as_of is not None else self.latest(stage)
        if m is None:
            raise FileNotFoundError(f"no committed snapshot for stage '{stage}'")
        return self._load(spark, m, slice(None))

    def read_part(
        self, spark: SparkSession, stage: str, part: str, manifest: dict | None = None
    ) -> DataFrame:
        """One part of the append chain of ``manifest`` (default: the
        head): ``"delta"`` is its last snapshot, ``"parents"`` every
        snapshot before it (0 rows, same schema, when unchained)."""
        m = manifest or self.latest(stage)
        if m is None:
            raise FileNotFoundError(f"no committed snapshot for stage '{stage}'")
        return self._load(spark, m, {"delta": slice(-1, None), "parents": slice(None, -1)}[part])

    def _load(self, spark: SparkSession, m: dict, part: slice) -> DataFrame:
        """The listed files of chain slice ``part`` with the recorded
        schema: no inference, so no Spark job. Roots stay the snapshot
        dirs (32+ file paths start a parallel listing job); a brace-list
        ``pathGlobFilter`` of the listed names (Spark's unique
        ``part-<n>-<uuid>`` names, no glob metacharacters) keeps out the
        rest."""
        from pyspark.sql.types import StructType

        chain = list(zip(m.get("paths", [m["path"]]), m["files"]))[part]
        chain = [(p, fs) for p, fs in chain if fs]
        _check_files(m, chain)
        reader = spark.read.schema(StructType.fromJson(json.loads(m["schema"])))
        if chain:
            names = ",".join(f["name"] for _, fs in chain for f in fs)
            reader = reader.option("pathGlobFilter", "{" + names + "}")
        return reader.parquet(*(p for p, _ in chain))

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            lineage_rows(self.root),
            "stage string, snapshot int, partition_id int, rows_out long, "
            "approx_bytes long, committed_at double",
        )

    def invalidate(self, stage: str) -> None:
        m = self._manifest(stage)
        if m.exists():
            m.unlink()


def resume_filter(inputs: DataFrame, done: DataFrame, key: str = "url") -> DataFrame:
    """Anti-join resume: rows of `inputs` not yet in `done` — exactly
    state.get_unprocessed semantics (state.py:86-111) as one join."""
    return inputs.join(done.select(key).distinct(), key, "left_anti")


def _check_files(m: dict, chain) -> None:
    """Refuse a manifest whose listed files (``(path, files)`` pairs)
    are gone — expired or lost: reading around them drops rows."""
    listed = [f"{p}/{f['name']}" for p, fs in chain for f in fs]
    missing = [f for f in listed if not os.path.isfile(f)]
    if missing:
        raise FileNotFoundError(
            f"stage '{m['stage']}': snapshot {m['snapshot']} was expired "
            f"or lost data files — missing: {missing}"
        )


def manifest_head(sdir: Path) -> dict | None:
    """The published manifest of one stage directory, or None."""
    head = sdir / "MANIFEST.json"
    return json.loads(head.read_text()) if head.exists() else None


def manifest_history(sdir: Path) -> list[dict]:
    """Publish-ordered manifests of one stage directory: the lines of
    its ``MANIFEST.log``. Tolerates a torn final line (crash
    mid-append); if the live head was published before the log existed
    (stores written by earlier versions) it is folded in so the current
    state always appears."""
    out: list[dict] = []
    log = sdir / "MANIFEST.log"
    if log.exists():
        for line in log.read_text().splitlines():
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:
                continue  # torn tail from a crash mid-append
    cur = manifest_head(sdir)
    if cur is not None and not any(
        e.get("snapshot") == cur["snapshot"] and e.get("path") == cur.get("path")
        for e in out
    ):
        out.append(cur)
    return out


def lineage_rows(root: str | Path) -> list[tuple]:
    """Per-partition lineage of a store: one (stage, snapshot,
    partition_id, rows_out, approx_bytes, committed_at) row per data
    file of every snapshot a stage published — partition_id -1 marks a
    snapshot with no files. Derived from the manifests and
    ``MANIFEST.log`` alone: json reads, no Spark, and nothing is
    created (a mistyped root yields no rows)."""
    rows: list[tuple] = []
    root = Path(root)
    for sdir in sorted(root.iterdir()) if root.is_dir() else ():
        if sdir.name.startswith("_") or not sdir.is_dir():
            continue
        seen: set[int] = set()
        for m in manifest_history(sdir):
            if m["snapshot"] in seen:  # re-publishes of one head
                continue
            seen.add(m["snapshot"])
            own = m["files"][-1]  # the snapshot's own files; the rest are its parents'
            parts = enumerate(own) if own else [(-1, {"rows": 0, "bytes": 0})]
            rows += [
                (sdir.name, m["snapshot"], i, f["rows"], f["bytes"], m["committed_at"])
                for i, f in parts
            ]
    return rows
