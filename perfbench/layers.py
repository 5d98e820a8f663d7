"""Per-layer probes for the traced run. Everything here calls the
package's public entry points from outside; nothing in the package is
patched.

Layers:
  functions     L0 kernels on the whole corpus, in the Spark driver process
  boundary      L1 no-op mapInArrow over the committed extract snapshot
  plans         per-stage seconds/rows/shuffle of the traced operation
  checkpoint    StageStore calls, via the RecordingStore subclass
  operators     LSH/verify/LCS/CC counts from the committed snapshots
  entry_queries the document headline queries, checked against DuckDB
  floor         per-stage seconds of a 200-page pipeline run
  ingest        plans.incremental: per-stage seconds and StageStore calls
                of folding the held-back 2% into a store of the rest
  scale         per-stage local[1] vs local[4] efficiency
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import pandas as pd

from epstein_pipeline_spark.plans.checkpoint import StageStore

STAGES = [
    "extract", "pairs_exact", "signatures", "minhash_candidates", "minhash_scored",
    "pairs_simhash", "pairs_lcs", "pairs", "labels", "clusters",
]
# the document-table queries of bench.HEADLINE: the only headline
# queries whose input can be built from the pages corpus
DOC_QUERIES = ["norm_hash", "fingerprints", "word_jaccard_pairs", "minhash_dedup_planted"]
FLOOR_PAGES = 200
QUERY_DOCS = 400


class RecordingStore(StageStore):
    """StageStore that counts commits, appends and reads, times reads
    and sums the bytes of the snapshots it writes."""

    def __init__(self, root):
        super().__init__(root)
        self.commits = self.appends = self.reads = 0
        self.read_s = 0.0
        self.bytes_written = 0
        self.overhead_s = 0.0  # time spent in this class's own bookkeeping

    def _count_bytes(self, m: dict) -> None:
        t0 = time.perf_counter()
        self.bytes_written += sum(p.stat().st_size for p in Path(m["path"]).rglob("*") if p.is_file())
        self.overhead_s += time.perf_counter() - t0

    def commit(self, stage, df, counters=None, extra=None, expected_parent="_CAPTURE_"):
        self.commits += 1
        m = super().commit(stage, df, counters, extra, expected_parent)
        self._count_bytes(m)
        return m

    def append(self, stage, delta, counters=None, extra=None):
        self.appends += 1
        t0 = time.perf_counter()
        parent = self.latest(stage)
        self.overhead_s += time.perf_counter() - t0
        m = super().append(stage, delta, counters, extra)
        if parent is not None:  # without a parent append falls back to commit
            self._count_bytes(m)
        return m

    def read(self, spark, stage, as_of=None):
        self.reads += 1
        t0 = time.perf_counter()
        try:
            return super().read(spark, stage, as_of)
        finally:
            self.read_s += time.perf_counter() - t0


def stage_name(key: str) -> str:
    """run_incremental times some stages as plans: 'pairs_exact(plan)'."""
    return key.split("(", 1)[0]


def snapshot_ids(store: StageStore) -> dict[str, int]:
    return {s: m["snapshot"] for s in STAGES if (m := store.latest(s)) is not None}


def op_manifests(store: StageStore, before: dict[str, int] | None = None) -> dict[str, dict]:
    """Latest manifests of the stages an operation committed: all of
    them, or those whose snapshot id moved since ``before``."""
    before = before or {}
    return {
        s: m for s in STAGES
        if (m := store.latest(s)) is not None and before.get(s) != m["snapshot"]
    }


def read_labels(store: StageStore) -> pd.DataFrame:
    m = store.latest("labels")
    return pd.concat(
        [pd.read_parquet(p, columns=["url", "cluster_id"]) for p in m.get("paths", [m["path"]])]
    )


def op_rows(m: dict) -> int:
    return int(m["delta_rows"] if "parent_snapshot" in m else m["rows"])


def shuffle_write_mb(manifests: dict[str, dict]) -> float:
    return sum(m.get("counters", {}).get("shuffle_write_bytes", 0) for m in manifests.values()) / 1e6


def stage_totals(stage_seconds: dict) -> dict[str, float]:
    secs = {s: 0.0 for s in STAGES}
    for k, v in stage_seconds.items():
        secs[stage_name(k)] += v
    return secs


def plan_metrics(prefix: str, wall: float, stage_seconds: dict, manifests: dict[str, dict]) -> dict:
    """Per-stage seconds, rows and shuffle MB of one operation; a stage
    that committed nothing (an incremental plan-only stage) reads 0.
    Stage seconds plus ``unstaged_s`` equal ``wall_s``."""
    head = prefix or "plans."
    out = {f"{head}wall_s": wall}
    secs = stage_totals(stage_seconds)
    for s in STAGES:
        m = manifests.get(s)
        out[f"{prefix}stage.{s}.s"] = secs[s]
        out[f"{prefix}stage.{s}.rows"] = op_rows(m) if m else 0
        out[f"{prefix}stage.{s}.shuffle_write_mb"] = (
            m.get("counters", {}).get("shuffle_write_bytes", 0) / 1e6 if m else 0.0
        )
    out[f"{head}unstaged_s"] = wall - sum(secs.values())
    return out


def checkpoint_metrics(prefix: str, store: RecordingStore) -> dict:
    return {
        f"{prefix}checkpoint.commit.count": store.commits,
        f"{prefix}checkpoint.append.count": store.appends,
        f"{prefix}checkpoint.read.count": store.reads,
        f"{prefix}checkpoint.read.s": store.read_s,
        f"{prefix}checkpoint.bytes_written_mb": store.bytes_written / 1e6,
    }


def operator_metrics(manifests: dict[str, dict], labels_rows: int, cfg) -> dict:
    """Counts of the operation's own snapshots (the delta for appends)."""
    cand = manifests.get("minhash_candidates")
    scored = manifests.get("minhash_scored")
    pairs = manifests.get("pairs")
    n_cand = op_rows(cand) if cand else 0
    sc = pd.read_parquet(scored["path"], columns=["score"]) if scored else pd.DataFrame({"score": []})
    accepted = int((sc["score"] >= cfg.jaccard_threshold).sum())
    methods = pd.read_parquet(pairs["path"], columns=["method"]) if pairs else pd.DataFrame({"method": []})
    pairs_in = (scored or {}).get("counters", {}).get("pairs_in", n_cand)
    return {
        "operators.lsh.candidates": n_cand,
        "operators.verify.pairs_in": pairs_in,
        "operators.verify.accept_ratio": accepted / pairs_in if pairs_in else 0.0,
        "operators.lcs.pairs_in": int(len(sc) - accepted),
        "operators.lcs.rescued": int((methods["method"] == "lcs").sum()),
        "operators.cc.labels_rows": labels_rows,
    }


def _median_s(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def function_metrics(data: dict, pages: pd.DataFrame) -> dict:
    """L0: ms per 1000 docs of the batch entry points: extract on both
    renderings of the corpus, the signature kernels on this workload's
    normalized text."""
    from corpus import ascii_share

    from epstein_pipeline_spark.config import DedupConfig
    from epstein_pipeline_spark.functions import _native
    from epstein_pipeline_spark.functions.minhash import make_minhash_udf
    from epstein_pipeline_spark.functions.simhash import make_simhash_udf
    from epstein_pipeline_spark.functions.text import py_extract_normalize_batch

    cfg = DedupConfig()
    html = {r: list(pd.read_parquet(data[r]["pages"], columns=["html"])["html"]) for r in ("ascii", "multilingual")}
    per_kdoc = 1e6 / len(pages)  # seconds -> ms per 1000 docs
    texts = pd.Series(py_extract_normalize_batch(list(pages["html"]))[1])
    minhash = make_minhash_udf(cfg.shingle_k, cfg.num_perm, cfg.minhash_seed).func
    simhash = make_simhash_udf().func
    return {
        "functions.native_loaded": int(_native.get_lib() is not None),
        "functions.extract.c_chain_share": ascii_share(pages["html"]),
        "functions.extract.ascii.ms_per_kdoc": per_kdoc * _median_s(lambda: py_extract_normalize_batch(html["ascii"])),
        "functions.extract.nonascii.ms_per_kdoc": per_kdoc * _median_s(
            lambda: py_extract_normalize_batch(html["multilingual"])
        ),
        "functions.minhash.ms_per_kdoc": per_kdoc * _median_s(lambda: minhash(texts)),
        "functions.simhash.ms_per_kdoc": per_kdoc * _median_s(lambda: simhash(texts)),
    }


def boundary_metrics(spark, store: StageStore) -> dict:
    """L1: a no-op mapInArrow over (url, text) of the committed extract
    snapshot prices the Arrow transfer plus the worker round trip."""
    df = store.read(spark, "extract").select("url", "text")

    def identity(batches):
        yield from batches

    def run():
        df.mapInArrow(identity, df.schema).write.format("noop").mode("overwrite").save()

    return {"boundary.arrow_noop_s": _median_s(run)}


def write_documents(pages: pd.DataFrame, out: Path) -> str:
    """The documents table (doc_id, text, lang, source, n_chars) of the
    entry queries, built from the first pages of the corpus."""
    d = pages.iloc[:QUERY_DOCS]
    out.mkdir(parents=True, exist_ok=True)
    pd.DataFrame({
        "doc_id": pd.Series(range(len(d)), dtype="int64"),
        "text": d["text"].values,
        "lang": d["lang"].values,
        "source": [f"src{i % 20}" for i in range(len(d))],
        "n_chars": d["text"].str.len().astype("int64").values,
    }).to_parquet(out / "documents.parquet", index=False)
    return str(out)


def entry_query_metrics(spark, sf_dir: str) -> tuple[dict, list[str]]:
    """Seconds of each document headline query, collected to the Spark driver,
    then an untimed check of the result against its DuckDB oracle
    (value_hash of scripts/check_oracles.py); returns (metrics,
    problems)."""
    import duckdb

    from epstein_pipeline_spark.entry_queries import ORACLES, QUERIES
    from scripts.check_oracles import value_hash

    out, problems = {}, []
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    for q in DOC_QUERIES:
        t0 = time.perf_counter()
        got = QUERIES[q](spark, sf_dir).toPandas()
        out[f"entry_queries.{q}.s"] = time.perf_counter() - t0
        if q not in ORACLES:
            if len(got) == 0:
                problems.append(f"{q}: no rows")
            continue
        want = con.execute(ORACLES[q]).df()
        if len(got) != len(want) or value_hash(got) != value_hash(want):
            problems.append(f"{q}: differs from its DuckDB oracle")
    con.close()
    return out, problems
