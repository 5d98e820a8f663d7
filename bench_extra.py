"""Iteration benchmarks (bench.py is FROZEN for measurement; this file
holds the working measurements cited in OPTIMIZATION_r06.md).

Usage:
  python bench_extra.py headline [names...]   # per-query min-of-2 at $SPARK_GRAFT_SF_DIR
  python bench_extra.py explain <name> [out]  # .explain('formatted') for a query
  python bench_extra.py dedup <cores>         # one dedup run on the cached 128k corpus
  python bench_extra.py exchanges [pages] [partitions]
      # shuffle bytes and records of every exchange each commit of one
      # run_dedup writes, over the perfbench dedup_ascii corpus (seed 201)
      # at local[4]; partitions defaults to perfbench's 4
  python bench_extra.py floor
      # the fixed floor of a small run at local[4] (L1/L2): a no-op
      # mapInArrow at 4 and 16 tasks, cold and warm; the zipimporters a
      # Python worker caches; the classes the JVM's codegen compiles for
      # a warm-up run, two identical run_dedups and two folds over the
      # perfbench dedup_ascii corpus (seed 201)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")
sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def headline(names: list[str]) -> None:
    from epstein_pipeline_spark.entry_queries import QUERIES
    from epstein_pipeline_spark.session import get_spark

    import bench

    bench.warm_page_cache(SF_DIR)
    spark = get_spark("bench_extra", cores=CPUS, shuffle_partitions=128)
    names = names or bench.HEADLINE
    out: dict[str, float] = {}
    for _rep in range(2):
        for name in names:
            spark.sparkContext.setJobDescription(f"headline:{name}")
            t0 = time.time()
            QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            if name not in out or dt < out[name]:
                out[name] = dt
    print(json.dumps({"queries": out, "total": round(sum(out.values()), 3)}))
    spark.stop()


def explain(name: str, out_path: str | None) -> None:
    from epstein_pipeline_spark.entry_queries import QUERIES
    from epstein_pipeline_spark.session import get_spark

    spark = get_spark("bench_extra_explain", cores=CPUS, shuffle_partitions=128)
    df = QUERIES[name](spark, SF_DIR)
    txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    if out_path:
        Path(out_path).write_text(txt)
        print(f"wrote {out_path}")
    else:
        print(txt)
    spark.stop()


def _size_bytes(metric: str) -> float:
    """Bytes of an SQL size metric's display string: its total is the
    first figure of the last line ('22.2 KiB (11.1 KiB, ...)')."""
    num, unit = metric.splitlines()[-1].split(" (")[0].split()
    return float(num) * 1024 ** ["B", "KiB", "MiB", "GiB", "TiB"].index(unit)


def exchanges(pages: int, partitions: int) -> None:
    """One run_dedup at local[4] over the perfbench dedup_ascii corpus
    (generate_corpus seed 201, its 50-member mega cluster, 8 parquet
    files), printing for each commit the ShuffleExchangeExec nodes of
    AQE's final plan of the commit's write, with their shuffle bytes and
    records written, next to the commit's shuffle_write_bytes counter,
    and the plan's join nodes (the strategy AQE settled on). The plan
    and its metrics come from the SQL status store (the SQL tab's data,
    kept with the UI off)."""
    import tempfile

    sys.path.insert(0, str(Path(__file__).resolve().parent / "perfbench"))
    import corpus

    from epstein_pipeline_spark.config import DedupConfig
    from epstein_pipeline_spark.plans.checkpoint import StageStore
    from epstein_pipeline_spark.plans.pipeline import run_dedup
    from epstein_pipeline_spark.session import get_spark
    from epstein_pipeline_spark.synth import generate_corpus

    seed = 201
    path = Path(__file__).resolve().parent / ".bench_cache" / f"perfbench_ascii_n{pages}_s{seed}"
    if not (path / "_DONE").exists():
        pb = generate_corpus(n_pages=pages, seed=seed, mega_cluster_size=corpus.MEGA_CLUSTER)
        corpus._write_pages(pb.pages, path)
        (path / "_DONE").touch()

    spark = get_spark("bench_extra_exchanges", cores=4, shuffle_partitions=partitions)
    sql = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def execution_ids() -> set[int]:
        bus.waitUntilEmpty()
        lst = sql.executionsList()
        return {lst.apply(i).executionId() for i in range(lst.size())}

    def shuffle_exchanges(eid: int) -> list[dict]:
        values, it = {}, sql.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        graph = sql.planGraph(eid)
        nodes = [graph.allNodes().apply(i) for i in range(graph.allNodes().size())]
        by_id = {n.id(): n for n in nodes}
        edges = [graph.edges().apply(i) for i in range(graph.edges().size())]
        out = []
        for n in nodes:
            if n.name().endswith("Join"):
                out.append({"join": re.sub(r"#\d+L?", "", n.desc())})
            if n.name() != "Exchange":
                continue
            ms = {m.name(): values.get(m.accumulatorId()) for m in
                  (n.metrics().apply(i) for i in range(n.metrics().size()))}
            if ms.get("shuffle bytes written") is None:
                continue
            feeds = [by_id[e.fromId()].desc() for e in edges if e.toId() == n.id()]
            out.append({
                "exchange": re.sub(r"#\d+L?|, \[plan_id=\d+\]", "", n.desc()),
                "input": re.sub(r"#\d+L?", "", feeds[0])[:160] if feeds else None,
                "kb": round(_size_bytes(ms["shuffle bytes written"]) / 1024, 1),
                "records": int(ms["shuffle records written"].replace(",", "")),
            })
        return out

    class ExchangeStore(StageStore):
        def __init__(self, root):
            super().__init__(root)
            self.found: dict[str, list[dict]] = {}

        def _write_snapshot(self, stage, df, counters):
            before = execution_ids()
            m = super()._write_snapshot(stage, df, counters)
            for eid in sorted(execution_ids() - before):
                self.found.setdefault(stage, []).extend(shuffle_exchanges(eid))
            return m

    try:
        with tempfile.TemporaryDirectory(dir="/dev/shm") as tmp:
            store = ExchangeStore(tmp)
            res = run_dedup(spark, spark.read.parquet(str(path)), store, DedupConfig())
            stages = {}
            for st in res.stage_seconds:
                if not store.has(st):
                    continue
                found = store.found.get(st, [])
                ex = sorted((x for x in found if "kb" in x), key=lambda x: -x["kb"])
                stages[st] = {
                    "counter_kb": round(store.latest(st)["counters"].get("shuffle_write_bytes", 0) / 1024, 1),
                    "exchanges_kb": round(sum(x["kb"] for x in ex), 1),
                    "exchanges": ex,
                    "joins": [x["join"] for x in found if "join" in x],
                }
        total = sum(v["exchanges_kb"] for v in stages.values())
        print(json.dumps({"pages": pages, "partitions": partitions,
                          "codec": spark.sparkContext.getConf().get("spark.io.compression.codec", "lz4"),
                          "total_kb": round(total, 1), "stages": stages}, indent=1))
    finally:
        spark.stop()


def floor() -> None:
    """Run by `python bench_extra.py floor`; JSON on stdout. Cold is the
    first run of a shape in the session (the first 4-task run also starts
    the Python daemon and its workers), warm the median of three more."""
    import statistics
    import tempfile

    sys.path.insert(0, str(Path(__file__).resolve().parent / "perfbench"))
    import corpus

    from epstein_pipeline_spark.config import DedupConfig
    from epstein_pipeline_spark.plans.checkpoint import StageStore
    from epstein_pipeline_spark.plans.incremental import run_incremental
    from epstein_pipeline_spark.plans.pipeline import run_dedup
    from epstein_pipeline_spark.session import get_spark

    paths = corpus.load(Path(__file__).resolve().parent / ".bench_cache", 1000, 201)["ascii"]
    spark = get_spark("bench_extra_floor", cores=4, shuffle_partitions=4)
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    out: dict = {
        "codegen_cache": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
        "daemon": spark.sparkContext.getConf().get("spark.python.daemon.module", "pyspark.daemon"),
    }

    def identity(batches):
        yield from batches

    def noop(tasks: int) -> float:
        df = spark.range(0, 4000, numPartitions=tasks).selectExpr("id", "repeat('x', 2000) AS text")
        t0 = time.perf_counter()
        df.mapInArrow(identity, df.schema).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    for tasks in (4, 16):
        cold = noop(tasks)
        out[f"arrow_noop_{tasks}"] = {"cold_s": cold, "warm_s": statistics.median(noop(tasks) for _ in range(3))}

    def worker_imports(batches):
        import pyarrow as pa
        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items() if type(v).__name__ == "zipimporter"]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"zipimporters": [len(zips)], "pyspark": [pyspark.__file__]})

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInArrow(worker_imports, "zipimporters long, pyspark string")
        .collect()
    )
    out["worker"] = {"zipimporters": max(r.zipimporters for r in rows), "pyspark": rows[0].pyspark}

    cfg = DedupConfig()
    compiled: list[dict] = []

    def counted(name: str, fn) -> None:
        n0, t0 = codegen.METRIC_COMPILATION_TIME().getCount(), time.perf_counter()
        fn()
        compiled.append({"run": name, "classes": codegen.METRIC_COMPILATION_TIME().getCount() - n0,
                         "wall_s": round(time.perf_counter() - t0, 2)})

    try:
        with tempfile.TemporaryDirectory(dir="/dev/shm") as tmp:
            stores = [StageStore(Path(tmp) / f"s{k}") for k in range(3)]
            counted("warm_up", lambda: run_dedup(spark, spark.read.parquet(paths["warm"]), stores[0], cfg))
            for k in (1, 2):
                counted(f"run_dedup_{k}", lambda k=k: run_dedup(spark, spark.read.parquet(paths["base"]), stores[k], cfg))
            for k in (1, 2):
                counted(f"fold_{k}", lambda k=k: run_incremental(spark, spark.read.parquet(paths["delta"]), stores[k], cfg))
        out["codegen"] = compiled
        print(json.dumps(out, indent=1))
    finally:
        spark.stop()


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "headline"
    if mode == "headline":
        headline(sys.argv[2:])
    elif mode == "explain":
        explain(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)
    elif mode == "dedup":
        import bench

        cores = int(sys.argv[2]) if len(sys.argv) > 2 else 4
        corpus = bench.corpus_parquet(bench.BENCH_PAGES)
        t, n, stages, sh = bench.run_dedup(cores, corpus)
        print(json.dumps({"seconds": round(t, 2), "n": n,
                          "stages": {k: round(v, 2) for k, v in stages.items()},
                          "shuffle_mb": sh}))
    elif mode == "exchanges":
        exchanges(int(sys.argv[2]) if len(sys.argv) > 2 else 1000,
                  int(sys.argv[3]) if len(sys.argv) > 3 else 4)
    elif mode == "floor":
        floor()
    else:
        raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
