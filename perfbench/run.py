"""Dedup engine benchmark: one Spark driver process at local[4], measuring the
package from outside.

    python3 perfbench/run.py --workload dedup_ascii --seed 1 --seconds 1 --trace 0

Workloads (the corpus is generate_corpus(1000 pages, seed) with a
50-member mega cluster; see corpus.py):
  dedup_ascii         plans.pipeline.run_dedup (extract .. clusters, LCS
                      on) into a fresh StageStore; every page is ASCII, so
                      extract takes the C chain
  dedup_multilingual  the same over the corpus with a seeded share of its
                      words spelled non-ASCII, so extract takes the re
                      fallback for every page

A run generates (or reuses) the seeded corpus, then sets up: Spark
session, native kernel load, and a warm-up pipeline run over a 10%
sample of the pages (this compiles every stage's plans; set-up is
reported as setup_s). It then runs full-corpus operations until
--seconds have passed (always at least one) and checks each, outside
the timed region, against the planted truth: pair recall >= 0.99, no
false merges, and identical pair and cluster counts across the run's
operations.

With --trace 1 it runs the per-layer probes of layers.py instead: a
traced pipeline run over the 98% base split, L0 kernels, the Python
boundary, the document headline queries (checked against their DuckDB
oracles), the 200-page floor, the traced incremental fold of the
held-back 2%, and the base run again at local[1].

Prints a host header line, then as the last line one JSON object with
keys correct, attempted, failed and metrics. Runtime state (corpus
cache, stores, Spark scratch, the compiled kernel library) lives in
.perfbench/ at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
CORES = 4
PAGES = 1000  # corpus size of both workloads
SHUFFLE_PARTITIONS = CORES
MIN_RECALL = 0.99
DRIVER_MEMORY = "1g"  # also the initial heap: a fixed heap keeps peak RSS steady


def configure_env() -> None:
    """Pin the load before pyspark starts: BLAS threads 1, every temp
    and Spark scratch dir inside the checkout, workers import the
    package from the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    sys.path.insert(0, str(ROOT))


def start_spark(cores: int):
    from epstein_pipeline_spark.session import get_spark

    java = (
        f"-XX:ActiveProcessorCount={cores} -XX:-UsePerfData -Xms{DRIVER_MEMORY} "
        f"-Djava.io.tmpdir={WORK / 'tmp'} -Dderby.stream.error.file={WORK / 'derby.log'}"
    )

    return get_spark(
        f"perfbench_local{cores}",
        cores=cores,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.extraJavaOptions": java,
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def host_header() -> dict:
    import pyspark

    from epstein_pipeline_spark.functions import _native

    cpu = "unknown"
    try:
        for line in open("/proc/cpuinfo"):
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    except OSError:
        pass
    sha = "unavailable"  # a benchmark checkout is not a git repository
    head = ROOT / ".git" / "HEAD"
    if head.exists():
        ref = head.read_text().strip()
        branch = ROOT / ".git" / ref.removeprefix("ref: ")
        sha = branch.read_text().strip() if ref.startswith("ref: ") and branch.exists() else ref
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu": cpu,
        "cores": CORES,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "native_loaded": _native.get_lib() is not None,
        "git_sha": sha,
    }


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    gateway JVM and its Python workers), sampled from /proc. A child of
    the JVM that still runs the java binary is the JVM's short-lived
    fork for a shell command (Hadoop's local file system runs one per
    file permission change); it shares the JVM's pages and is not
    counted."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def _exe(pid: int) -> str:
        try:
            return os.readlink(f"/proc/{pid}/exe")
        except OSError:
            return ""

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            exe = self._exe(pid)
            todo.extend(
                c for c in children.get(pid, [])
                if not (exe.endswith("/java") and self._exe(c) == exe)
            )
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Dedup:
    """The timed operation: plans.pipeline.run_dedup (extract to
    clusters, LCS on) of the whole corpus into a fresh StageStore."""

    def __init__(self, spark, data: dict, rendering: str):
        from epstein_pipeline_spark.config import DedupConfig

        self.data = data
        self.paths = data[rendering]
        self.cfg = DedupConfig()
        self.stores = WORK / "stores"
        shutil.rmtree(self.stores, ignore_errors=True)
        self.stores.mkdir(parents=True)
        self._k = 0
        self.done: list[dict] = []  # every operation that passed its check
        self.spark = spark
        self.pages = spark.read.parquet(self.paths["pages"])

    def fresh_root(self) -> Path:
        self._k += 1
        return self.stores / f"op-{self._k}"

    def setup(self) -> None:
        """Warm-up: a pipeline run over a 10% sample starts every Python
        worker, loads the kernels there and compiles every stage's plans."""
        from epstein_pipeline_spark.plans.checkpoint import StageStore
        from epstein_pipeline_spark.plans.pipeline import run_dedup

        run_dedup(self.spark, self.spark.read.parquet(self.paths["warm"]), StageStore(self.fresh_root()), self.cfg)

    def op(self) -> dict:
        from epstein_pipeline_spark.plans.checkpoint import StageStore
        from epstein_pipeline_spark.plans.pipeline import run_dedup

        store = StageStore(self.fresh_root())
        t0 = time.perf_counter()
        res = run_dedup(self.spark, self.pages, store, self.cfg, use_extracted=True, lcs_check=True)
        return {"wall": time.perf_counter() - t0, "stage_seconds": res.stage_seconds, "store": store}

    def check(self, rec: dict) -> list[str]:
        """Score the committed labels against the planted truth."""
        from corpus import score
        from layers import read_labels

        recall, false_merged = score(self.data["truth"], read_labels(rec["store"]))
        rec["pair_recall"], rec["false_merged"] = recall, false_merged
        rec["counts"] = (rec["store"].latest("pairs")["rows"], rec["store"].latest("clusters")["rows"])
        problems = []
        if recall < MIN_RECALL:
            problems.append(f"pair_recall {recall:.4f} < {MIN_RECALL}")
        if false_merged:
            problems.append(f"{false_merged} false-merged clusters")
        return problems

    def run_checked(self, log: list) -> dict | None:
        """One operation plus its output check; None if it raised or failed."""
        from layers import op_manifests, shuffle_write_mb

        self.spark.sparkContext._jvm.System.gc()  # no full GC left over from the last operation
        try:
            rec = self.op()
            problems = self.check(rec)
        except Exception:
            log.append(traceback.format_exc(limit=3))
            return None
        if problems:
            log.append("; ".join(problems))
            return None
        rec["manifests"] = op_manifests(rec["store"])
        rec["shuffle_write_mb"] = shuffle_write_mb(rec["manifests"])
        self.done.append(rec)
        return rec

    def release(self, rec: dict) -> None:
        shutil.rmtree(rec["store"].root, ignore_errors=True)


WORKLOADS = {"dedup_ascii": "ascii", "dedup_multilingual": "multilingual"}


def traced_metrics(w: Dedup, failures: list) -> dict:
    """Per-layer metrics of one traced pipeline run over the 98% base
    split, the layer probes, the traced incremental fold of the
    held-back 2% into that store, and the base run again at local[1]."""
    import pandas as pd

    import corpus
    import layers
    from epstein_pipeline_spark.plans.checkpoint import StageStore
    from epstein_pipeline_spark.plans.incremental import run_incremental
    from epstein_pipeline_spark.plans.pipeline import run_dedup

    def checked(name: str, labels, truth) -> None:
        recall, false_merged = corpus.score(truth, labels)
        if recall < MIN_RECALL or false_merged:
            failures.append(f"{name}: pair_recall {recall:.4f}, {false_merged} false-merged clusters")

    spark = w.spark
    truth = w.data["truth"]
    base = spark.read.parquet(w.paths["base"])
    store = layers.RecordingStore(w.fresh_root())
    t0 = time.perf_counter()
    res = run_dedup(spark, base, store, w.cfg)
    wall = time.perf_counter() - t0
    labels = layers.read_labels(store)
    checked("base run", labels, truth[truth["url"].isin(labels["url"])])
    manifests = layers.op_manifests(store)
    out = {"trace.overhead_s": store.overhead_s}
    out.update(layers.plan_metrics("", wall, res.stage_seconds, manifests))
    out.update(layers.checkpoint_metrics("", store))
    out.update(layers.operator_metrics(manifests, store.latest("labels")["rows"], w.cfg))

    pages = pd.read_parquet(w.paths["pages"])
    out.update(layers.function_metrics(w.data, pages))
    out.update(layers.boundary_metrics(spark, store))

    q, problems = layers.entry_query_metrics(spark, layers.write_documents(pages, w.fresh_root()))
    out.update(q)
    failures.extend(problems)

    floor = run_dedup(spark, w.pages.limit(layers.FLOOR_PAGES), StageStore(w.fresh_root()), w.cfg)
    for s in layers.STAGES:
        out[f"floor.{s}.s"] = floor.stage_seconds.get(s, 0.0)

    fold_store = layers.RecordingStore(store.root)
    before = layers.snapshot_ids(fold_store)
    t0 = time.perf_counter()
    fold = run_incremental(spark, spark.read.parquet(w.paths["delta"]), fold_store, w.cfg)
    fold_wall = time.perf_counter() - t0
    out.update(layers.plan_metrics("ingest.", fold_wall, fold.stage_seconds, layers.op_manifests(fold_store, before)))
    out.update(layers.checkpoint_metrics("ingest.", fold_store))
    fold_labels = layers.read_labels(fold_store)
    checked("incremental fold", fold_labels, truth)
    out["quality.false_merged_clusters"] = corpus.score(truth, fold_labels)[1]

    spark.stop()  # the gateway JVM stays up; a new context at local[1] joins it
    w.spark = spark1 = start_spark(1)
    lo = run_dedup(spark1, spark1.read.parquet(w.paths["base"]), StageStore(w.fresh_root()), w.cfg)
    hi, lo = layers.stage_totals(res.stage_seconds), layers.stage_totals(lo.stage_seconds)
    for s in layers.STAGES:
        out[f"scale.{s}.eff"] = lo[s] / (CORES * hi[s]) if hi[s] else 0.0
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "epstein_pipeline_spark" / "__init__.py").is_file():
        print(f"epstein_pipeline_spark not found under {ROOT}", file=sys.stderr)
        return 2
    configure_env()

    import corpus

    data = corpus.load(WORK / "cache", PAGES, args.seed)

    t_setup = time.perf_counter()
    spark = start_spark(CORES)
    session_start_s = time.perf_counter() - t_setup
    header: dict = {}
    w = None
    failures: list[str] = []
    timed: list[dict] = []
    attempted = failed = 0
    try:
        header = host_header()  # loads (and on a new checkout compiles) the native kernels
        w = Dedup(spark, data, WORKLOADS[args.workload])
        w.setup()
        setup_s = time.perf_counter() - t_setup

        if args.trace:
            attempted += 3  # the base run, the fold and the local[1] run
            metrics = traced_metrics(w, failures)
            metrics["session.start_s"] = session_start_s
        else:
            with RssSampler() as rss:
                t_run = time.perf_counter()
                while not timed or time.perf_counter() - t_run < args.seconds:
                    attempted += 1
                    rec = w.run_checked(failures)
                    if rec is None:
                        failed += 1
                        break
                    timed.append(rec)
                    w.release(rec)
            metrics = {
                "docs_per_s": PAGES / statistics.median(r["wall"] for r in timed),
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak / 1e6,
                "shuffle_write_mb": statistics.median(r["shuffle_write_mb"] for r in timed),
                "pair_recall": statistics.median(r["pair_recall"] for r in timed),
            }
        counts = {r["counts"] for r in w.done}
        if len(counts) > 1:
            failures.append(f"pair/cluster counts differ across operations: {sorted(counts)}")
    except Exception:
        failures.append(traceback.format_exc(limit=5))
        metrics = {}
    finally:
        stop_spark(w.spark if w is not None else spark)
        shutil.rmtree(WORK / "stores", ignore_errors=True)

    print(json.dumps({"host": header, "workload": args.workload, "seed": args.seed,
                      "pages": PAGES, "op_s": [r["wall"] for r in w.done] if w else [],
                      "failures": failures}))
    if failures and not failed:
        failed = 1  # set-up, a cross-operation or a query check failed
    attempted = max(attempted, failed)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


def unit_of(name: str) -> str:
    if name == "docs_per_s":
        return "1/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("ms_per_kdoc"):
        return "ms/kdoc"
    if name.endswith(("share", "ratio", "eff", "recall")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
