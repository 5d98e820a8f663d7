"""The end-to-end dedup pipeline (the reference's
``epstein-pipeline dedup --mode all --clusters`` flagship,
cli.py:556-636, restated per SURVEY.md §3.1).

Seven committed checkpoints, each resumable:

    extract             pages(html) -> text (one mapInArrow pass: compiled
                        chain for ASCII pages, the re twins otherwise),
                        normalize, hash
    signatures          MinHash + SimHash signatures in one pass
    minhash_candidates  LSH band join, scored by the signature estimate
    minhash_scored      one verify pass: exact Jaccard near the threshold,
                        the LCS ratio for the gray zone
    pairs               hash-group star pairs (exact), the minhash and lcs
                        edges of minhash_scored, SimHash Hamming-ball
                        pairs: union, first-pass-wins
    labels              connected components (large-star/small-star)
    clusters            representative + avg similarity + method

`run_dedup(resume=True)` skips any stage with a committed snapshot —
the kill/rerun contract (reference state.py:86-111 semantics).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epstein_pipeline_spark.config import DEFAULT_CONFIG, DedupConfig
from epstein_pipeline_spark.functions.text import content_hash_expr, normalize_text_expr
from epstein_pipeline_spark.operators.cc import connected_components
from epstein_pipeline_spark.operators.clusters import build_clusters
from epstein_pipeline_spark.operators.exact import exact_pairs
from epstein_pipeline_spark.operators.lsh import (
    band_rows,
    candidate_pairs_from_bands,
    score_candidates,
)
from epstein_pipeline_spark.operators.pairs import canonicalize_pairs, union_first_wins
from epstein_pipeline_spark.operators.simhash_pass import simhash_pass
from epstein_pipeline_spark.operators.verify import (
    ESTIMATE_ACCEPT,
    SCORED_SCHEMA,
    verify_pairs,
)
from epstein_pipeline_spark.plans.checkpoint import StageStore
from epstein_pipeline_spark.session import spread_to_cores


@dataclass
class PipelineResult:
    clusters: DataFrame
    labels: DataFrame
    pairs: DataFrame
    stage_seconds: dict = field(default_factory=dict)
    docs_in: int = 0


_EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "extracted_text string, text string, content_hash string"
)


def _extract_batches(batches):
    """Arrow-batch worker for ``extract_stage``: the extract/clean/
    normalize chain + sha256 via ``py_extract_normalize_batch`` — a
    compiled byte-automaton chain for pure-ASCII docs (byte-identical
    to the ``py_*`` re twins, which remain the spec and the fallback;
    the per-url invariant test pins stage == twin on whole corpora).
    Python's ``re`` engine ran this chain ~2x faster than a JVM
    ``regexp_replace`` cascade (0.33 vs 0.71 ms/doc); the compiled
    chain is another ~4x on the bench corpus (0.096 ms/doc)."""
    import pyarrow as pa

    from epstein_pipeline_spark.functions.text import py_extract_normalize_batch

    for batch in batches:
        ext, norm, hsh = py_extract_normalize_batch(batch.column("html").to_pylist())
        yield pa.record_batch(
            [
                batch.column("url"),
                batch.column("warc_ts"),
                batch.column("lang"),
                pa.array(ext, pa.string()),
                pa.array(norm, pa.string()),
                pa.array(hsh, pa.string()),
            ],
            names=["url", "warc_ts", "lang", "extracted_text", "text", "content_hash"],
        )


def extract_stage(pages: DataFrame) -> DataFrame:
    """html binary -> extracted_text, normalized text, content hash —
    one Arrow pass over (url, warc_ts, lang, html) only (explicit
    projection: an opaque map defeats column pruning otherwise). The
    single extract path of the engine — batch, incremental and
    streaming ingest all call it; its output is pinned in tests to the
    ``py_*`` re twins (``py_extract_text`` -> ``py_clean_ocr_noise``
    -> ``py_normalize_text`` -> sha256), which are the spec."""
    return pages.select("url", "warc_ts", "lang", "html").mapInArrow(
        _extract_batches, schema=_EXTRACT_SCHEMA
    )


def signatures_stage(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url, _len, sig, simhash) for docs passing the shorter length
    gate — ONE pass for both signature UDFs. Shared by the batch
    pipeline and incremental ingest: the base/delta cluster-
    equivalence contract requires both to compute byte-identical
    signatures for the same document, so there is exactly one body.

    docs.text is already normalized by extract (normalize is
    idempotent) — re-normalizing here was a redundant full-corpus
    regex pass in the single most expensive stage.

    One wave of Python tasks (``spread_to_cores``): the scan is
    re-dealt only when it has fewer partitions than cores (a tiny
    corpus in one parquet file would serialize the UDF on one task),
    and then to exactly one task per core. Each Python task costs a
    fixed 0.2-0.35 s of worker setup however few rows it holds, so
    re-dealing a 4-file snapshot to 4x cores would buy 16 task
    launches and a round-robin exchange of the whole text column, and
    no balance. At scale the extract snapshot already has >= 6
    splits/core (the adaptive split sizing above) and is read as is:
    an unconditional re-deal measured 16.0 vs 14.1 s at 4 cores/128k."""
    from epstein_pipeline_spark.functions.minhash import make_minhash_udf
    from epstein_pipeline_spark.functions.simhash import make_simhash_udf

    mh_udf = make_minhash_udf(cfg.shingle_k, cfg.num_perm, cfg.minhash_seed)
    sh_udf = make_simhash_udf()
    gated = spread_to_cores(
        docs.filter(
            F.length("text") > min(cfg.minhash_min_len, cfg.simhash_min_len)
        ).select("url", F.col("text").alias("_norm"), F.length("text").alias("_len"))
    )
    return (
        gated.withColumn("sig", mh_udf("_norm"))
        .withColumn("simhash", sh_udf("_norm"))
        .select("url", "_len", "sig", "simhash")
    )


def minhash_scored_stage(est: DataFrame, docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """minhash_scored from the estimate-scored candidates ``est``, for
    the batch and the incremental plan alike: (url1, url2, score,
    lcs_ratio).

    Rows at or above both ESTIMATE_ACCEPT and the threshold keep their
    estimate and need no LCS ratio. This keeps dense exact-dup cliques
    (already caught by the exact pass anyway) out of the O(pairs *
    text) verify. Every other row goes through ``verify_pairs``, which
    keeps an estimate >= ESTIMATE_ACCEPT as the score (reachable only
    with a threshold above it) and gives each gray row its
    ``lcs_ratio``."""
    accept = max(ESTIMATE_ACCEPT, cfg.jaccard_threshold)
    high = est.filter(F.col("score") >= accept).withColumn(
        "lcs_ratio", F.lit(None).cast("double")
    )
    return high.unionByName(verify_pairs(est.filter(F.col("score") < accept), docs, cfg))


def pairs_stage(
    exact: DataFrame, scored: DataFrame, simhash: DataFrame, cfg: DedupConfig, lcs_check: bool
) -> DataFrame:
    """The pair table from the exact pairs, minhash_scored and the
    SimHash pairs: minhash edges are scored rows at or above the
    threshold, lcs edges (``lcs_check``) the gray rows whose LCS ratio
    clears cfg.lcs_min_ratio, scored by that ratio. Union,
    first-pass-wins (exact > minhash > simhash > lcs)."""
    accepted = F.col("score") >= cfg.jaccard_threshold
    parts = [
        exact,
        scored.filter(accepted).select("url1", "url2", "score", F.lit("minhash").alias("method")),
        simhash,
    ]
    if lcs_check:
        parts.append(
            scored.filter(~accepted & (F.col("lcs_ratio") >= cfg.lcs_min_ratio)).select(
                "url1", "url2", F.round("lcs_ratio", 6).alias("score"), F.lit("lcs").alias("method")
            )
        )
    return union_first_wins(*[canonicalize_pairs(p) for p in parts])


def _adaptive_split_bytes(spark: SparkSession, pages: DataFrame) -> int | None:
    """Scale-adaptive input split size: ~6 scan tasks per core over the
    actual input bytes, clamped to [8 MB, 128 MB]. The session default
    (8 MB) exists so tiny test corpora still spread across all cores,
    but at bench scale it fragments the scan into 50-130 splits whose
    per-task overhead (python worker round trips, Arrow batch setup)
    is pure fixed cost: measured on the 128k corpus, extract_stage
    15.6 -> 14.0 s at 4 cores (29 vs 40 splits) and 58.1 -> 53.3 s at
    1 core (10 vs 64 splits). Derived from input size + core count —
    never a constant tuned to either the sandbox or a cluster; at
    cluster scale (TB inputs) it clamps to the 128 MB production
    default. Returns None (leave the session default) when the input
    is not a file scan."""
    try:
        files = pages.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    from urllib.parse import unquote, urlparse

    total = 0
    for f in files:
        p = unquote(urlparse(f).path) if "://" in f or f.startswith("file:") else f
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    par = spark.sparkContext.defaultParallelism
    return max(8 << 20, min(128 << 20, total // (6 * par) or 1))


def run_dedup(
    spark: SparkSession,
    pages: DataFrame,
    store: StageStore,
    cfg: DedupConfig = DEFAULT_CONFIG,
    resume: bool = True,
    use_extracted: bool = True,
    lcs_check: bool = True,
) -> PipelineResult:
    timings: dict[str, float] = {}

    # every stage action happens inside this function (commits), so an
    # entry-set/exit-restore of the split size covers the whole run
    _split = _adaptive_split_bytes(spark, pages)
    _old_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    if _split is not None:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(_split))
    try:
        return _run_dedup_staged(
            spark, pages, store, cfg, resume, use_extracted, lcs_check, timings
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", _old_split)


def _run_dedup_staged(
    spark: SparkSession,
    pages: DataFrame,
    store: StageStore,
    cfg: DedupConfig,
    resume: bool,
    use_extracted: bool,
    lcs_check: bool,
    timings: dict[str, float],
) -> PipelineResult:

    # downstream stage manifests record the extract snapshot they were
    # computed FROM (for_extract_snapshot): the incremental plan's
    # crash-recovery freshness rule compares these ids, not wall-clock
    # timestamps (a backwards clock step between commits must not make
    # a stale stage pass as fresh)
    stamp: dict = {}
    if resume:  # a store from an older engine version is refused, not misread
        store.check_schema("minhash_scored", SCORED_SCHEMA)

    def staged(name: str, build, counters: dict | None = None) -> DataFrame:
        if resume and store.has(name):
            timings[name] = 0.0
            return store.read(spark, name)
        t0 = time.time()
        df = build()
        store.commit(name, df, counters, extra=stamp or None)
        timings[name] = time.time() - t0
        return store.read(spark, name)

    # 1. extract (skips rows already extracted when resuming a partial
    # run). The pre-extracted path commits under the same stage name so
    # resume and incremental ingest see one contract either way.
    if use_extracted:
        docs = staged("extract", lambda: extract_stage(pages))
    else:
        docs = staged(
            "extract",
            lambda: pages.select(
                "url", "warc_ts", "lang",
                F.col("text").alias("extracted_text"),
                normalize_text_expr("text").alias("text"),
            ).withColumn("content_hash", content_hash_expr("text")),
        )

    # doc count from the committed manifest (free — no extra Spark job)
    m = store.latest("extract")
    n_docs = m["rows"] if m is not None else docs.count()
    if m is not None:
        stamp["for_extract_snapshot"] = m["snapshot"]

    # 2. signatures — one committed table (url, sig, simhash): both
    # signature UDFs run in a single pass over the corpus (normalize
    # once, scan once, commit once — the north_rule signatures
    # checkpoint); downstream band-explosion and verify joins reuse the
    # committed table instead of re-running the pandas UDFs
    all_sigs = staged(
        "signatures", lambda: signatures_stage(docs, cfg), {"docs_in": n_docs}
    )
    mh_sigs = all_sigs.filter(F.col("_len") > cfg.minhash_min_len).select("url", "sig")
    sh_sigs = all_sigs.filter(F.col("_len") > cfg.simhash_min_len).select("url", "simhash")

    # 3. MinHash/LSH candidate edges: band-join candidates scored by
    # the cheap signature estimate (wide margin below the gray zone).
    # Committed as their OWN checkpoint — the north rule requires
    # candidate-pair edges on durable storage, and reading the snapshot
    # back replaces the round-1 eager localCheckpoint barrier (whose
    # block-manager materialization was the anti-scaling stage: both
    # consumers now read cheap parquet instead of a driver-fenced
    # in-memory copy).
    def build_candidates() -> DataFrame:
        cands = candidate_pairs_from_bands(band_rows(mh_sigs, cfg), cfg)
        return score_candidates(cands, mh_sigs, cfg).filter(
            F.col("score") >= cfg.lcs_gray_low - 0.10  # estimator margin
        )

    est = staged("minhash_candidates", build_candidates)
    n_cand = (store.latest("minhash_candidates") or {}).get("rows", 0)

    # 4. one verify pass: exact Jaccard near the threshold, the LCS
    # ratio (north_rule stage 3) for the gray zone
    mh_scored = staged(
        "minhash_scored", lambda: minhash_scored_stage(est, docs, cfg), {"pairs_in": n_cand}
    )

    # 5. the exact pass (hash-group star pairs) and the SimHash
    # Hamming-ball pass over the committed signatures run inside the
    # pairs commit, unioned with the minhash and lcs edges
    def build_pairs() -> DataFrame:
        return pairs_stage(
            exact_pairs(docs, hash_col="content_hash"),
            mh_scored,
            simhash_pass(docs, cfg, sigs=sh_sigs),
            cfg,
            lcs_check,
        )

    pairs = staged("pairs", build_pairs)

    # 6. connected components — hot-root salting kicks in only past
    # cfg.salt_min_pairs edges (the pairs manifest is free to read);
    # below that the replicate/explode overhead exceeds any skew
    n_pairs = (store.latest("pairs") or {}).get("rows", 0)
    salt = cfg.salt_buckets if n_pairs >= cfg.salt_min_pairs else 1
    labels = staged(
        "labels",
        lambda: connected_components(
            pairs, nodes=docs.select("url"),
            max_iters=cfg.cc_max_iters, checkpoint_every=cfg.cc_checkpoint_every,
            salt_buckets=salt, salt_hot_degree=cfg.salt_hot_degree,
        ),
    )

    # 7. clusters
    clusters = staged("clusters", lambda: build_clusters(labels, pairs, docs))

    return PipelineResult(
        clusters=clusters, labels=labels, pairs=pairs, stage_seconds=timings, docs_in=n_docs
    )
