"""Incremental page ingest via Structured Streaming.

The reference has no streaming (batch CLI, README.md:72); its
stage-resume contract (state.py:86-111) is the batch analog of
streaming state. This module is the engine's incremental-crawl
extension: new page files land in a directory, a streaming query
extracts + hashes them and appends ONLY unseen content hashes to the
deduped store (foreachBatch anti-join — exactly-once via the batch-id
idempotent sink pattern), plus a watermarked per-host throughput
aggregation for monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from epstein_pipeline_spark.plans.pipeline import _EXTRACT_SCHEMA, extract_stage
from epstein_pipeline_spark.sources.io import PAGES_SCHEMA


def incremental_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """readStream(pages parquet) -> extract + hash -> foreachBatch
    anti-join against already-seen hashes -> append parquet.

    Returns the StreamingQuery; callers drive it with
    processAllAvailable() in tests or leave it running in production.
    """
    # the batch pipeline's own extract_stage (mapInArrow runs on
    # streaming frames too): one content_hash definition, so the two
    # ingest paths agree on what "duplicate content" means
    extracted = extract_stage(spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir))

    def upsert(batch: DataFrame, batch_id: int) -> None:
        # idempotent sink: each micro-batch OVERWRITES its own
        # deterministic batch_id=<id> partition directory, so a
        # foreachBatch retry after a partial write replaces (never
        # re-appends) that batch's rows — the batch-id idempotence
        # pattern. `seen` excludes the current batch_id so a retry's
        # own partial output can't anti-join its rows away.
        sp = batch.sparkSession
        try:
            seen = (
                sp.read.option("basePath", output_dir)
                .parquet(output_dir + "/batch_id=*")
                .filter(F.col("batch_id") != batch_id)
                .select("content_hash")
                .distinct()
            )
            fresh = batch.join(seen, "content_hash", "left_anti")
        except AnalysisException:  # first batch: no output yet
            fresh = batch
        # one row per new hash within the batch too (first url wins
        # deterministically by min url — reference first-wins analog)
        w = Window.partitionBy("content_hash").orderBy("url")
        fresh = fresh.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        fresh.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")

    return (
        extracted.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )


def host_throughput(spark: SparkSession, input_dir: str):
    """Watermarked windowed aggregation: pages/min per host over
    warc_ts — the monitoring stream (10-minute late-data tolerance)."""
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    return (
        stream.withColumn("host", F.parse_url("url", F.lit("HOST")))
        .withWatermark("warc_ts", "10 minutes")
        .groupBy(F.window("warc_ts", "1 minute"), "host")
        .agg(F.count("*").alias("pages"))
    )


def stateful_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    timeout_ms: int | None = None,
):
    """Custom stateful streaming dedup via ``applyInPandasWithState``:
    one GroupState per content_hash remembers whether the hash was
    emitted; only the first arrival (min url within the microbatch for
    determinism) passes through.

    Contrast with ``incremental_dedup_ingest``'s foreachBatch
    anti-join: that one re-reads the output (O(history) per batch,
    right shape when history lives in a table you MERGE into); this
    one keeps the seen-set in the streaming state store (RocksDB on a
    real cluster) — O(batch) per batch, state sized to distinct
    hashes. ``timeout_ms`` > 0 expires idle hash state (bounded-state
    mode: dedup within the retention horizon only).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hashed = extract_stage(spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir))

    def dedup_group(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        import pandas as pd

        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values("url").iloc[:1]
            if best is None or cand["url"].iloc[0] < best["url"].iloc[0]:
                best = cand
        if state.exists:
            # already emitted — but RE-ARM the timeout: GroupState
            # clears any pending timeout on every invocation, so
            # returning without set would make this hash's state
            # immortal the first time a duplicate arrives (the
            # bounded-state mode would silently become unbounded)
            if timeout_ms:
                state.setTimeoutDuration(timeout_ms)
            return
        state.update((True,))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        if best is not None:
            yield best

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout if timeout_ms else GroupStateTimeout.NoTimeout
    )
    deduped = hashed.groupBy("content_hash").applyInPandasWithState(
        dedup_group,
        outputStructType=_EXTRACT_SCHEMA,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=timeout_conf,
    )
    return (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", output_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_cluster_ingest(
    spark: SparkSession,
    input_dir: str,
    store,
    checkpoint_dir: str,
    cfg=None,
    lcs_check: bool = True,
):
    """Full near-duplicate CLUSTERING as a stream: readStream(pages)
    -> foreachBatch(run_incremental) folds every micro-batch into the
    committed store (MinHash/SimHash/LCS passes, seed-edge incremental
    CC, affected-only cluster rebuild — plans/incremental.py).

    Exactly-once end-to-end without a transactional sink: Spark's
    streaming checkpoint replays a half-done batch after a crash, and
    run_incremental's per-delta freshness rule turns the replay into a
    RESUME — the url anti-join drops already-extracted rows, stages
    the dead run already appended are reused via manifest timestamps,
    and the labels/clusters redo is idempotent. This is the batch-id
    idempotent-sink pattern realized with snapshot manifests.

    Returns the StreamingQuery (availableNow trigger: drains what is
    currently in ``input_dir`` then stops; rerun to pick up more).
    """
    from epstein_pipeline_spark.config import DEFAULT_CONFIG
    from epstein_pipeline_spark.plans.incremental import run_incremental

    cfg = cfg or DEFAULT_CONFIG
    stream = spark.readStream.schema(PAGES_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(input_dir)

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        run_incremental(
            batch.sparkSession, batch, store, cfg,
            use_extracted=True, lcs_check=lcs_check,
        )

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
