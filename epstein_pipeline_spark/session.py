"""SparkSession factory tuned for the dedup workload.

Local mode stands in for a multi-executor cluster in the sandbox; the
configs below are the ones that matter at 1000-executor scale too:
AQE (runtime re-plan + skew-join splitting), Arrow for pandas UDF
transfer, shuffle partitions sized to cores (sandbox) / 2-3x total
cores (cluster).

Two layers. ``ENGINE_CONF`` holds the settings that do not depend on
the host: every session the engine starts carries them, the tests' and
benchmarks' ``get_spark`` sessions and the spark-submit commands'
``engine_session`` alike, so the production path runs what is tested.
``get_spark`` adds the host sizing on top (master, cores, partitions,
driver memory, split sizes, broadcast threshold); under spark-submit
that sizing comes from ``--master`` / ``--conf`` instead.

Why zstd: every shuffle, broadcast and spill block goes through
``spark.io.compression.codec``. Spark's default, lz4, only matches
repeated byte runs; the engine's exchange rows are url strings, 64-char
hex hashes, signature arrays and array headers, which entropy coding
shrinks much further. Measured on a 4-vCPU host (pyspark 4.1.2), a
1000-page perfbench run wrote a median 0.696 MB of shuffle under lz4
and 0.419 MB under zstd (``dedup_ascii``, 10 seeds; -40%, every seed
lower), with docs/s, setup time and peak RSS within the host's noise.
At 128k pages (``bench_extra.py dedup 4``) the stages wrote 306 MB
under lz4 and 176 MB under zstd.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Settings that do not depend on host size, applied by get_spark and
# engine_session. Builder options override spark-submit --conf values,
# so these hold under spark-submit too.
ENGINE_CONF: dict[str, str] = {
    # shuffle, broadcast and spill blocks: ~40% fewer bytes than lz4
    # on the dedup exchanges (module docstring)
    "spark.io.compression.codec": "zstd",
    # FileOutputCommitter v2: task outputs commit directly to the
    # destination instead of a rename-per-file job commit (~60 ms
    # per 16-file parquet write, x7 stage commits per dedup run).
    # Safe under the StageStore contract: readers only ever see a
    # snapshot AFTER its manifest publishes, so a crash mid-write
    # leaves an unpublished (invisible) partial dir either way —
    # the engine never relies on _SUCCESS or job-commit atomicity.
    # v2 DOES rely on speculation staying off: a speculative
    # duplicate attempt commits its files straight into the
    # destination too, so two attempts of one task can both land
    # in a snapshot (duplicate rows). Pinned here, and get_spark
    # refuses an extra_conf that turns it back on.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    "spark.speculation": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def engine_session(app: str) -> SparkSession:
    """The session of a spark-submit command: master and sizing come
    from spark-submit (``--master``, ``--conf``), ``ENGINE_CONF`` is
    applied on top."""
    spark = SparkSession.builder.appName(app).config(map=ENGINE_CONF).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_spark(
    app: str = "epstein_pipeline_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` uses ``local[*]``. For the two-parallelism-level
    scaling benchmark, pass cores=8 and cores=32 explicitly.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        # >= 4x max cores so local[8] and local[32] runs are
        # shuffle-bound the same way (SURVEY.md §7.3)
        shuffle_partitions = max(4 * n, 128)

    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config(map=ENGINE_CONF)
        # make local[N] mean N: size JVM internal pools (GC, JIT,
        # netty, parquet) to N, not to the machine's visible CPUs —
        # otherwise a "2-core" run borrows helper-thread time and
        # scaling measurements lie. Only effective on the process's
        # FIRST SparkContext (JVM flags are set at launch).
        # derby.stream.error.file: the embedded Derby JDBC driver
        # (test/bench sink) writes derby.log into user.dir by default —
        # keep it out of the repo working tree.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ActiveProcessorCount={n} "
            "-Dderby.stream.error.file=/tmp/derby.log",
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Input-split size gates narrow-stage parallelism: a 100 MB test
        # corpus at the production default (128 MB) becomes ONE input
        # partition and every scan-shaped stage runs serial. 8 MB keeps
        # sandbox corpora spread across all cores; on a real cluster
        # with TB inputs raise this back to 128 MB via extra_conf.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        if k == "spark.speculation" and v.strip().lower() != "false":
            raise ValueError(
                "spark.speculation must stay false: the v2 output committer "
                "would let duplicate task attempts both commit into a snapshot"
            )
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_to_cores(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to exactly ``defaultParallelism`` partitions
    when it has FEWER, else return it unchanged — the input guard of
    every Python signature stage.

    Sizing is one wave of Python tasks, never more: each Python task
    pays a fixed ~0.2-0.35 s on its worker however few rows it holds
    (pyspark's per-task ``setup_spark_files`` re-scans pyspark.zip's
    central directory for every cached zipimporter, plus the daemon's
    gc between tasks), so 2x-4x over-partitioning multiplies that
    floor for no balance gain (a no-op pandas UDF over 1000 rows:
    0.58 s at 4 partitions, 1.38 s at 16, 4.8 s at 64 on a 4-vCPU
    host). An input that already has >= one task per core is left
    alone: re-dealing it would add a full exchange of the text column.
    The count is read from ``df.rdd``, which is free for a scan but
    would execute an upstream shuffle, so pass scan-shaped input."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
