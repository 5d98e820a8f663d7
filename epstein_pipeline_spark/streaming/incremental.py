"""Incremental page ingest via Structured Streaming.

The reference has no streaming (batch CLI, README.md:72); its
stage-resume contract (state.py:86-111) is the batch analog of
streaming state. This module is the engine's incremental-crawl
extension: new page files land in a directory and a streaming query
folds each micro-batch into the committed store with
``run_incremental`` — the same extract, candidate, verify and cluster
stages as a batch ingest, so the stream adds no dedup logic of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from epstein_pipeline_spark.sources.io import PAGES_SCHEMA


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
