"""spark-submit entry point.

Usage:
  spark-submit --py-files dist/epstein_pipeline_spark.zip main.py \\
      dedup --input <pages parquet> --store <checkpoint root> \\
            --output <clusters parquet> [--no-lcs] [--no-resume]

  spark-submit ... main.py synth --pages 10000 --output <parquet dir>

  spark-submit ... main.py resolve --input <persons parquet> \\
      --output <resolution parquet> [--threshold 0.85] [--train]

The dedup job reads the pages table (url, warc_ts, html, text, lang),
runs extract -> exact -> MinHash/LSH -> SimHash -> LCS -> connected
components -> clusters with per-stage committed checkpoints, and
writes the cluster table. Re-running with the same --store resumes
from the last committed snapshot.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def cmd_dedup(args) -> None:
    from epstein_pipeline_spark.config import DedupConfig
    from epstein_pipeline_spark.plans.checkpoint import StageStore
    from epstein_pipeline_spark.plans.pipeline import run_dedup
    from epstein_pipeline_spark.session import engine_session
    from epstein_pipeline_spark.sources.io import read_pages, write_clusters

    spark = engine_session("epstein_pipeline_spark.dedup")
    pages = read_pages(spark, args.input)
    store = StageStore(args.store)
    t0 = time.time()
    res = run_dedup(
        spark,
        pages,
        store,
        DedupConfig(),
        resume=not args.no_resume,
        use_extracted=True,
        lcs_check=not args.no_lcs,
    )
    write_clusters(res.clusters, args.output)
    shuffle_mb = store.stage_shuffle_write_mb(res.stage_seconds)
    print(
        json.dumps(
            {
                "docs_in": res.docs_in,
                "pairs": res.pairs.count(),
                "clusters_rows": res.clusters.count(),
                "seconds": round(time.time() - t0, 2),
                "stage_seconds": {k: round(v, 2) for k, v in res.stage_seconds.items()},
                "stage_shuffle_write_mb": shuffle_mb,
            }
        )
    )


def cmd_compact(args) -> None:
    """Store maintenance: rewrite append chains into single snapshots
    (Iceberg rewrite_data_files analog). Compacts the given stages or,
    by default, every stage with a chained manifest."""
    from epstein_pipeline_spark.plans.checkpoint import StageStore
    from epstein_pipeline_spark.session import engine_session

    spark = engine_session("epstein_pipeline_spark.compact")
    store = StageStore(args.store)
    import os

    stages = args.stages.split(",") if args.stages else [
        d for d in sorted(os.listdir(args.store))
        if not d.startswith("_") and store.has(d)
    ]
    from epstein_pipeline_spark.plans.checkpoint import PendingIngestError

    t0 = time.time()
    done = {}
    for st in stages:
        m = store.latest(st)
        chained = m is not None and len(m.get("paths", [m["path"]])) > 1
        if chained:
            try:
                store.compact(spark, st)
            except PendingIngestError:
                # extract refuses while an ingest is incomplete
                # (collapsing the chain would turn crash recovery's
                # delta into the whole corpus); report, keep going
                done[st] = "skipped-pending-ingest"
                continue
        done[st] = "compacted" if chained else "single-snapshot"
    out = {"stages": done, "seconds": round(time.time() - t0, 2)}
    if args.expire:
        # Iceberg expire_snapshots analog: drop snapshot dirs the
        # CURRENT manifests no longer reference — old append-chain
        # segments plus any orphan a conflict-losing or crashed writer
        # left behind. Only safe once no reader can hold an old
        # manifest, which is why it is an explicit flag, not a default.
        out["expired"] = {
            st: len(store.expire_snapshots(st)) for st in stages
        }
    print(json.dumps(out))


def cmd_decontaminate(args) -> None:
    """Drop corpus pages sharing any n-token gram with a benchmark
    table (training-data decontamination): writes the clean corpus
    parquet and, optionally, the flagged report."""
    from epstein_pipeline_spark.operators.decontam import decontaminate
    from epstein_pipeline_spark.session import engine_session

    spark = engine_session("epstein_pipeline_spark.decontaminate")
    corpus = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.benchmark)
    t0 = time.time()
    clean, flagged = decontaminate(
        corpus, bench, id_col=args.id_col, text_col=args.text_col, n=args.ngram
    )
    flagged = flagged.localCheckpoint()  # one execution for report + anti-join
    clean.write.mode("overwrite").parquet(args.output)
    if args.report:
        flagged.write.mode("overwrite").parquet(args.report)
    docs_in = corpus.count()
    n_flagged = flagged.count()
    print(
        json.dumps(
            {
                "docs_in": docs_in,
                "contaminated": n_flagged,
                "docs_out": docs_in - n_flagged,
                "ngram": args.ngram,
                "seconds": round(time.time() - t0, 2),
            }
        )
    )


def cmd_dedup_spans(args) -> None:
    """Strip corpus-wide repeated token spans (ExactSubstr dedup, Lee
    et al. 2021): every >= n-token span occurring more than once loses
    all but one canonical occurrence. Writes the rewritten corpus and
    prints coverage stats."""
    from pyspark.sql import functions as F

    from epstein_pipeline_spark.operators.dup_spans import strip_repeated_spans
    from epstein_pipeline_spark.session import engine_session

    spark = engine_session("epstein_pipeline_spark.dedup_spans")
    corpus = spark.read.parquet(args.input)
    t0 = time.time()
    out = strip_repeated_spans(
        corpus,
        id_col=args.id_col,
        text_col=args.text_col,
        n=args.ngram,
        keep=args.keep,
    ).localCheckpoint()  # one execution for the write + the stats agg
    out.write.mode("overwrite").parquet(args.output)
    stats = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum((F.col("dup_tokens") > 0).cast("int")).alias("docs_stripped"),
        F.sum("dup_tokens").alias("tokens_stripped"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "docs": stats["docs"],
                "docs_stripped": stats["docs_stripped"],
                "tokens_stripped": stats["tokens_stripped"],
                "ngram": args.ngram,
                "keep": args.keep,
                "seconds": round(time.time() - t0, 2),
            }
        )
    )


def cmd_dedup_lines(args) -> None:
    """Cross-corpus line-level dedup (C4 §2.2 / CCNet): every
    ``--seg-tokens``-token line occurring >= 2 times corpus-wide keeps
    only its first (id, line_idx) occurrence. Writes the cleaned
    corpus and prints removal stats."""
    from pyspark.sql import functions as F

    from epstein_pipeline_spark.operators.line_dedup import (
        dedup_lines,
        dedup_lines_incremental,
    )
    from epstein_pipeline_spark.session import engine_session

    spark = engine_session("epstein_pipeline_spark.dedup_lines")
    corpus = spark.read.parquet(args.input)
    t0 = time.time()
    if args.store:
        from epstein_pipeline_spark.plans.checkpoint import StageStore

        if not args.batch_id:
            # a path default would misclassify every later batch
            # staged at the same fixed path as a rerun of the first
            # (silently never folding new lines); make callers name
            # batches explicitly
            raise SystemExit("dedup-lines: --store requires --batch-id")
        out = dedup_lines_incremental(
            StageStore(args.store),
            corpus,
            batch_id=args.batch_id,
            id_col=args.id_col,
            text_col=args.text_col,
            seg_tokens=args.seg_tokens,
        ).localCheckpoint()
    else:
        out = dedup_lines(
            corpus,
            id_col=args.id_col,
            text_col=args.text_col,
            seg_tokens=args.seg_tokens,
        ).localCheckpoint()  # one execution for the write + the stats agg
    out.write.mode("overwrite").parquet(args.output)
    stats = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum((F.col("n_removed") > 0).cast("int")).alias("docs_cleaned"),
        F.sum("n_lines").alias("lines_in"),
        F.sum("n_removed").alias("lines_removed"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "docs": stats["docs"],
                "docs_cleaned": stats["docs_cleaned"],
                "lines_in": stats["lines_in"],
                "lines_removed": stats["lines_removed"],
                "seg_tokens": args.seg_tokens,
                "seconds": round(time.time() - t0, 2),
            }
        )
    )


def cmd_curate(args) -> None:
    """One-pass training-corpus curation: Gopher gates -> cross-corpus
    line dedup -> PII masking -> exact content dedup (plans/curate.py
    has the ordering/scale rationale). Writes the curated corpus (and
    optionally the full audit frame) and prints per-stage counters."""
    from pyspark.sql import functions as F

    from epstein_pipeline_spark.plans.curate import curate_corpus, curation_stats
    from epstein_pipeline_spark.session import engine_session

    spark = engine_session("epstein_pipeline_spark.curate")
    corpus = spark.read.parquet(args.input)
    t0 = time.time()
    audit = curate_corpus(
        corpus,
        id_col=args.id_col,
        text_col=args.text_col,
        seg_tokens=args.seg_tokens,
    ).localCheckpoint()  # one execution shared by write + stats + audit
    audit.filter(F.col("drop_stage").isNull()).drop("drop_stage").write.mode(
        "overwrite"
    ).parquet(args.output)
    if args.audit:
        audit.write.mode("overwrite").parquet(args.audit)
    stats = curation_stats(audit)
    stats["seconds"] = round(time.time() - t0, 2)
    print(json.dumps(stats))


def cmd_snapshots(args) -> None:
    """Print a stage's publish-ordered snapshot history from the
    metadata log (Iceberg `table.snapshots()` analog) — pyspark-free
    read-only path like `lineage`."""
    from pathlib import Path

    from epstein_pipeline_spark.plans.checkpoint import manifest_head, manifest_history

    sdir = Path(args.store, args.stage)
    if not sdir.is_dir():
        raise SystemExit(f"snapshots: no such store stage directory: {sdir}")
    hist = manifest_history(sdir)
    cur = manifest_head(sdir)
    print(
        json.dumps(
            {
                "stage": args.stage,
                "current": cur["snapshot"] if cur else None,
                "history": [
                    {
                        "snapshot": e.get("snapshot"),
                        "rows": e.get("rows"),
                        "chain_len": len(e.get("paths", [e.get("path")])),
                        "published_at": e.get("published_at", e.get("committed_at")),
                    }
                    for e in hist
                ],
            }
        )
    )


def cmd_rollback(args) -> None:
    """Set a stage head back to a previous snapshot (Iceberg
    rollback_to_snapshot analog): atomically re-publishes the
    historical manifest; data files untouched."""
    from epstein_pipeline_spark.plans.checkpoint import StageStore

    store = StageStore(args.store)
    m = store.rollback(args.stage, args.snapshot)
    print(
        json.dumps(
            {"stage": args.stage, "rolled_back_to": m["snapshot"], "rows": m["rows"]}
        )
    )


def cmd_lineage(args) -> None:
    """Audit a store without writing Spark code: per-stage manifest
    summary (snapshot id, rows, bytes, counters incl. shuffle bytes,
    the tasks / task_ms / gc_ms the commit's write ran and its wall_ms,
    append-chain length) plus per-partition row counts per snapshot — the
    north-rule resumability evidence, surfaced at the CLI. Everything
    comes from the manifests and their MANIFEST.log
    (``checkpoint.lineage_rows``): json reads only, no SparkSession,
    and a READ-ONLY path — constructing StageStore would mkdir a
    mistyped --store and mask the error as an empty audit."""
    from pathlib import Path

    from epstein_pipeline_spark.plans.checkpoint import lineage_rows, manifest_head

    root = Path(args.store)
    if not root.is_dir():
        raise SystemExit(f"lineage: no such store directory: {args.store}")
    stages = args.stages.split(",") if args.stages else sorted(
        d.name for d in root.iterdir()
        if not d.name.startswith("_") and manifest_head(d) is not None
    )
    out = {}
    for st in stages:
        m = manifest_head(root / st)
        if m is None:  # named explicitly but never committed
            out[st] = {"committed": False}
            continue
        out[st] = {
            "snapshot": m["snapshot"],
            "rows": m["rows"],
            "bytes": m["bytes"],
            "snapshots_in_chain": len(m.get("paths", [m["path"]])),
            "counters": m.get("counters", {}),
        }
    # partitions + rows_out per (stage, snapshot), in stage then
    # snapshot order; partition_id -1 marks an empty snapshot
    lineage: dict = {}
    for stage, snap, pid, rows, _, _ in sorted(lineage_rows(args.store), key=lambda r: r[:3]):
        k = lineage.setdefault(f"{stage}/snapshot-{snap}", {"partitions": 0, "rows_out": 0})
        k["partitions"] += int(pid >= 0)
        k["rows_out"] += rows
    print(json.dumps({"stages": out, "lineage": lineage}))


def cmd_export(args) -> None:
    """Export a parquet table to JSON-lines / CSV / SQLite(+FTS5)
    (reference cli.py export commands; exporters/sqlite_export.py).
    ``sqlite`` expects the documents schema (id, title, date, source,
    category, summary, pageCount, batesRange, tags, ocrText) and
    optionally runs an FTS smoke query afterwards."""
    from epstein_pipeline_spark.session import engine_session
    from epstein_pipeline_spark.sources.io import (
        fts_search,
        write_csv_docs,
        write_json,
        write_sqlite,
    )

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark = engine_session("epstein_pipeline_spark.export")
    df = spark.read.parquet(args.input)

    def to_docs_shape(d):
        """Adapt any document-ish table to the reference docs schema
        the csv/sqlite sinks expect; present columns pass through."""
        cols = set(d.columns)

        def pick(name, *alts, default=None, dtype="string"):
            for c in (name, *alts):
                if c in cols:
                    return F.col(c).cast(dtype).alias(name)
            return F.lit(default).cast(dtype).alias(name)

        text = F.col("text") if "text" in cols else F.lit("")
        return d.select(
            pick("id", "doc_id", "url"),
            F.coalesce(
                F.col("title") if "title" in cols else F.lit(None).cast("string"),
                F.substring(text, 1, 80),
            ).alias("title"),
            pick("date"),
            pick("source"),
            pick("category", "lang"),
            pick("summary"),
            pick("pageCount", default=None, dtype="int"),
            pick("batesRange"),
            (F.col("tags") if "tags" in cols
             else F.array().cast(T.ArrayType(T.StringType()))).alias("tags"),
            (F.col("personIds") if "personIds" in cols
             else F.array().cast(T.ArrayType(T.StringType()))).alias("personIds"),
            (F.col("ocrText") if "ocrText" in cols else text).alias("ocrText"),
        )

    t0 = time.time()
    out: dict = {"format": args.format, "rows": df.count()}
    if args.format == "json":
        write_json(df, args.output)
    elif args.format == "csv":
        write_csv_docs(to_docs_shape(df), args.output)
    else:
        write_sqlite(to_docs_shape(df), args.output)
        if args.fts_query:
            hits = fts_search(args.output, args.fts_query, limit=5)
            out["fts_hits"] = len(hits)
    out["seconds"] = round(time.time() - t0, 2)
    print(json.dumps(out))


def cmd_ingest(args) -> None:
    """Incremental ingest: fold NEW pages into a store built by a
    prior ``dedup`` run — every stage touches O(new + affected) rows
    (plans/incremental.py; reference per-doc resume semantics
    state.py:86-111)."""
    from epstein_pipeline_spark.config import DedupConfig
    from epstein_pipeline_spark.plans.checkpoint import StageStore
    from epstein_pipeline_spark.plans.incremental import run_incremental
    from epstein_pipeline_spark.session import engine_session
    from epstein_pipeline_spark.sources.io import read_pages, write_clusters

    spark = engine_session("epstein_pipeline_spark.ingest")
    pages = read_pages(spark, args.input)
    store = StageStore(args.store)
    t0 = time.time()
    from epstein_pipeline_spark.plans.checkpoint import CommitConflictError

    try:
        res = run_incremental(
            spark, pages, store, DedupConfig(),
            use_extracted=True, lcs_check=not args.no_lcs,
        )
    except CommitConflictError as e:
        # optimistic-concurrency loser (another ingest committed to
        # this store first): exit with the Iceberg-style message
        # instead of a traceback; rerunning folds in the remaining
        # delta against the new head (the resume anti-join + freshness
        # rule make the retry exact)
        raise SystemExit(f"ingest commit conflict: {e}\nrerun to retry") from e
    write_clusters(res.clusters, args.output)
    print(
        json.dumps(
            {
                "docs_total": res.docs_in,
                "pairs_total": res.pairs.count(),
                "clusters_rows": res.clusters.count(),
                "seconds": round(time.time() - t0, 2),
                "stage_seconds": {k: round(v, 2) for k, v in res.stage_seconds.items()},
                # NB: counters come from each stage's LATEST snapshot —
                # for appended stages that is this delta's snapshot
                "stage_shuffle_write_mb": store.stage_shuffle_write_mb(res.stage_seconds),
            }
        )
    )


def cmd_resolve(args) -> None:
    """Probabilistic entity resolution over a persons table
    (reference cli.py:2145-2199 resolve-entities): score blocked pairs
    with Fellegi-Sunter weights — EM-trained when --train — cluster at
    the threshold, report input/cluster/merge counts."""
    from epstein_pipeline_spark.operators.resolution import resolve_persons
    from epstein_pipeline_spark.session import engine_session

    spark = engine_session("epstein_pipeline_spark.resolve")
    persons = spark.read.parquet(args.input)
    t0 = time.time()
    res = resolve_persons(
        persons, threshold=args.threshold, train=args.train
    )
    res.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    n_in = out.count()
    n_clusters = out.select("canonical_id").distinct().count()
    print(
        json.dumps(
            {
                "input_records": n_in,
                "clusters": n_clusters,
                "merges": n_in - n_clusters,
                "trained": bool(args.train),
                "seconds": round(time.time() - t0, 2),
            }
        )
    )


def cmd_synth(args) -> None:
    from epstein_pipeline_spark.session import engine_session
    from epstein_pipeline_spark.synth import generate_corpus, pages_to_spark

    spark = engine_session("epstein_pipeline_spark.synth")
    corpus = generate_corpus(n_pages=args.pages, seed=args.seed, mega_cluster_size=args.mega)
    pages_to_spark(spark, corpus, partitions=args.partitions).write.mode("overwrite").parquet(
        args.output
    )
    print(json.dumps(corpus.stats))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="epstein_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("dedup", help="end-to-end near-duplicate detection + clustering")
    d.add_argument("--input", required=True)
    d.add_argument("--store", required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--no-lcs", action="store_true")
    d.add_argument("--no-resume", action="store_true")
    d.set_defaults(fn=cmd_dedup)

    c = sub.add_parser("compact", help="rewrite a store's append chains into single snapshots")
    c.add_argument(
        "--expire",
        action="store_true",
        help="afterwards delete unreferenced snapshot dirs (expire_snapshots)",
    )
    c.add_argument("--store", required=True)
    c.add_argument("--stages", default=None, help="comma-separated; default: all chained stages")
    c.set_defaults(fn=cmd_compact)

    dc = sub.add_parser(
        "decontaminate", help="drop corpus pages sharing n-grams with a benchmark table"
    )
    dc.add_argument("--input", required=True, help="corpus parquet")
    dc.add_argument("--benchmark", required=True, help="benchmark parquet (needs a text column)")
    dc.add_argument("--output", required=True, help="clean corpus parquet")
    dc.add_argument("--report", help="optional flagged-doc report parquet")
    dc.add_argument("--ngram", type=int, default=13)
    dc.add_argument("--id-col", default="url")
    dc.add_argument("--text-col", default="text")
    dc.set_defaults(fn=cmd_decontaminate)

    ds = sub.add_parser(
        "dedup-spans",
        help="strip corpus-wide repeated token spans (ExactSubstr dedup)",
    )
    ds.add_argument("--input", required=True, help="corpus parquet")
    ds.add_argument("--output", required=True, help="rewritten corpus parquet")
    ds.add_argument("--ngram", type=int, default=50)
    ds.add_argument("--keep", choices=("one", "none"), default="one")
    ds.add_argument("--id-col", default="url")
    ds.add_argument("--text-col", default="text")
    ds.set_defaults(fn=cmd_dedup_spans)

    dl = sub.add_parser(
        "dedup-lines",
        help="remove corpus-wide repeated lines, keeping first occurrences (C4/CCNet)",
    )
    dl.add_argument("--input", required=True, help="corpus parquet")
    dl.add_argument("--output", required=True, help="cleaned corpus parquet")
    dl.add_argument("--seg-tokens", type=int, default=10)
    dl.add_argument("--id-col", default="url")
    dl.add_argument("--text-col", default="text")
    dl.add_argument(
        "--store",
        default=None,
        help="StageStore root for INCREMENTAL mode: seen-line state persists "
        "across batches ('line_seen' stage); reruns of the same --batch-id "
        "are idempotent",
    )
    dl.add_argument(
        "--batch-id",
        default=None,
        help="unique batch name, required with --store (reruns of the same "
        "id are idempotent; a new id folds new lines into state)",
    )
    dl.set_defaults(fn=cmd_dedup_lines)

    cu = sub.add_parser(
        "curate",
        help="full curation pass: Gopher gates, line dedup, PII mask, exact dedup",
    )
    cu.add_argument("--input", required=True, help="corpus parquet")
    cu.add_argument("--output", required=True, help="curated corpus parquet")
    cu.add_argument("--audit", default=None, help="optional audit-frame parquet (all docs + drop_stage)")
    cu.add_argument("--seg-tokens", type=int, default=10)
    cu.add_argument("--id-col", default="url")
    cu.add_argument("--text-col", default="text")
    cu.set_defaults(fn=cmd_curate)

    sn = sub.add_parser("snapshots", help="print a stage's snapshot history (time-travel log)")
    sn.add_argument("--store", required=True)
    sn.add_argument("--stage", required=True)
    sn.set_defaults(fn=cmd_snapshots)

    rb = sub.add_parser("rollback", help="roll a stage head back to a previous snapshot")
    rb.add_argument("--store", required=True)
    rb.add_argument("--stage", required=True)
    rb.add_argument("--snapshot", type=int, required=True)
    rb.set_defaults(fn=cmd_rollback)

    ln = sub.add_parser("lineage", help="audit a store: manifests, counters, per-partition lineage")
    ln.add_argument("--store", required=True)
    ln.add_argument("--stages", default=None, help="comma list (default: all committed stages)")
    ln.set_defaults(fn=cmd_lineage)

    e = sub.add_parser("export", help="export a parquet table to json / csv / sqlite+FTS5")
    e.add_argument("--input", required=True, help="parquet table (docs schema for csv/sqlite)")
    e.add_argument("--output", required=True)
    e.add_argument("--format", choices=["json", "csv", "sqlite"], default="json")
    e.add_argument("--fts-query", default=None, help="sqlite only: run an FTS5 smoke query")
    e.set_defaults(fn=cmd_export)

    g = sub.add_parser("ingest", help="fold new pages into an existing dedup store (incremental)")
    g.add_argument("--input", required=True, help="new pages parquet")
    g.add_argument("--store", required=True, help="store from a prior dedup run")
    g.add_argument("--output", required=True)
    g.add_argument("--no-lcs", action="store_true")
    g.set_defaults(fn=cmd_ingest)

    r = sub.add_parser("resolve", help="probabilistic entity resolution over a persons table")
    r.add_argument("--input", required=True, help="persons parquet: pid, name, first_name, last_name, aliases, category")
    r.add_argument("--output", required=True)
    r.add_argument("--threshold", type=float, default=0.85)
    r.add_argument("--train", action="store_true", help="EM-train FS weights first (Splink training sequence)")
    r.set_defaults(fn=cmd_resolve)

    s = sub.add_parser("synth", help="write a deterministic synthetic pages corpus")
    s.add_argument("--pages", type=int, default=10000)
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--mega", type=int, default=0)
    s.add_argument("--partitions", type=int, default=64)
    s.add_argument("--output", required=True)
    s.set_defaults(fn=cmd_synth)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
