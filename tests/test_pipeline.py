"""End-to-end pipeline: recall >= 0.99 vs planted truth, zero false
positives, union-find label parity, kill/rerun resume."""

import json

import pytest
from pyspark.sql import functions as F

from epstein_pipeline_spark.config import DedupConfig
from epstein_pipeline_spark.operators.cc import py_union_find
from epstein_pipeline_spark.plans.checkpoint import StageStore
from epstein_pipeline_spark.plans.pipeline import run_dedup

CFG = DedupConfig(band_bucket_cap=100)


@pytest.fixture(scope="module")
def result(spark, pages, tmp_path_factory):
    store = StageStore(tmp_path_factory.mktemp("stages"))
    res = run_dedup(spark, pages, store, CFG, use_extracted=True, lcs_check=True)
    return res, store


def test_recall_against_planted_truth(result, corpus):
    res, _ = result
    labels = {r["url"]: r["cluster_id"] for r in res.labels.collect()}
    tp = corpus.truth_pairs
    hits = sum(labels.get(a) == labels.get(b) for a, b in zip(tp["url1"], tp["url2"]))
    recall = hits / len(tp)
    assert recall >= 0.99, f"pair recall {recall:.4f} < 0.99"


def test_no_false_positives(result, corpus):
    res, _ = result
    labels = res.labels.toPandas()
    truth_urls = set(corpus.truth_clusters["url"])
    sizes = labels.groupby("cluster_id")["url"].apply(list)
    outside = [
        u for us in sizes if len(us) > 1 for u in us if u not in truth_urls
    ]
    assert outside == [], f"{len(outside)} non-duplicate urls merged into clusters"


def test_labels_match_union_find_on_same_pairs(result):
    """Given identical candidate pairs, the distributed CC must equal
    the reference's union-find exactly (BASELINE.md contract)."""
    res, _ = result
    pairs = [(r["url1"], r["url2"]) for r in res.pairs.collect()]
    want = py_union_find(pairs)
    got = {r["url"]: r["cluster_id"] for r in res.labels.collect()}
    for node, root in want.items():
        assert got[node] == root


def test_cluster_output_shape(result):
    res, _ = result
    cols = set(res.clusters.columns)
    assert cols == {"cluster_id", "url", "is_representative", "similarity", "dedup_method"}
    # exactly one representative per cluster
    bad = (
        res.clusters.groupBy("cluster_id")
        .agg(F.sum(F.col("is_representative").cast("int")).alias("n"))
        .filter(F.col("n") != 1)
        .count()
    )
    assert bad == 0


def test_resume_skips_committed_stages(spark, pages, result):
    """Kill/rerun semantics: a second run against the same store does
    zero stage work (all timings 0) and returns identical labels."""
    res, store = result
    res2 = run_dedup(spark, pages, store, CFG, use_extracted=True, lcs_check=True)
    assert all(t == 0.0 for t in res2.stage_seconds.values()), res2.stage_seconds
    a = {(r["url"], r["cluster_id"]) for r in res.labels.collect()}
    b = {(r["url"], r["cluster_id"]) for r in res2.labels.collect()}
    assert a == b


def test_partial_resume_recomputes_only_invalidated(spark, pages, result):
    res, store = result
    store.invalidate("labels")
    store.invalidate("clusters")
    res3 = run_dedup(spark, pages, store, CFG, use_extracted=True, lcs_check=True)
    zeroed = {k: v for k, v in res3.stage_seconds.items() if k not in ("labels", "clusters")}
    assert all(t == 0.0 for t in zeroed.values())
    assert res3.stage_seconds["labels"] > 0
    a = {(r["url"], r["cluster_id"]) for r in res.labels.collect()}
    b = {(r["url"], r["cluster_id"]) for r in res3.labels.collect()}
    assert a == b


def test_store_of_an_older_schema_is_refused_before_any_write(spark, tmp_path):
    """A store whose minhash_scored predates the lcs_ratio column is
    refused by a resumed run_dedup and by run_incremental, naming the
    stage, before either reads a stage or appends to one."""
    from epstein_pipeline_spark.plans.incremental import run_incremental

    store = StageStore(tmp_path)
    store.commit("extract", spark.createDataFrame([("u", "t")], "url string, text string"))
    store.commit("minhash_scored", spark.createDataFrame([], "url1 string, url2 string, score double"))
    heads = {s: (tmp_path / s / "MANIFEST.json").read_text() for s in ("extract", "minhash_scored")}
    pages = spark.createDataFrame(
        [("v", "2024-01-01", "en", "some text")], "url string, warc_ts string, lang string, text string"
    )
    with pytest.raises(ValueError, match="minhash_scored.*rebuild"):
        run_dedup(spark, pages, store, CFG, use_extracted=False)
    with pytest.raises(ValueError, match="minhash_scored.*rebuild"):
        run_incremental(spark, pages, store, CFG, use_extracted=False)
    assert {s: (tmp_path / s / "MANIFEST.json").read_text() for s in heads} == heads
    assert sorted(p.name for p in tmp_path.iterdir()) == ["extract", "minhash_scored"]


def test_lineage_covers_all_stages(spark, result):
    _, store = result
    lin = store.lineage(spark)
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == set(STAGES)


def test_signatures_stage_runs_one_python_wave(spark, result):
    """The signatures commit launches at most two tasks per core: one
    wave of Python tasks, plus at most one scan task per core when a
    small extract snapshot has to be re-dealt (never the 4x-cores
    re-deal, which alone is 4 waves)."""
    _, store = result
    par = spark.sparkContext.defaultParallelism
    tasks = store.latest("signatures")["counters"]["tasks"]
    assert 1 <= tasks <= 2 * par


# the seven commits of a batch run: the exact and SimHash passes are
# planned inside the `pairs` commit, the LCS ratio inside `minhash_scored`
STAGES = [
    "extract", "signatures", "minhash_candidates", "minhash_scored",
    "pairs", "labels", "clusters",
]


def test_stage_timers_are_the_committed_stages_known_to_the_benchmark(result):
    """A batch run times exactly the stages it commits (the store's
    directories are pinned by test_one_record_per_commit), and each is
    a name perfbench/layers.py ``STAGES`` knows: its ``stage_totals``
    raises on any other timer key."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "perfbench" / "layers.py"
    spec = importlib.util.spec_from_file_location("perfbench_layers", path)
    layers = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(layers)
    res, _ = result
    assert set(res.stage_seconds) == set(STAGES)
    assert set(STAGES) <= set(layers.STAGES)


def test_store_reads_start_no_spark_job(spark, result):
    """Every stage of a run reads back from its manifest: the recorded
    schema equals what a plain parquet read of the snapshot infers,
    and the read itself starts no Spark job (no schema inference)."""
    _, store = result
    sc = spark.sparkContext
    for stage in STAGES:
        group = f"store-read-{stage}"
        sc.setJobGroup(group, group)
        try:
            df = store.read(spark, stage)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], stage
        assert df.schema == spark.read.parquet(store.latest(stage)["path"]).schema, stage


def test_one_record_per_commit(result):
    """A run leaves no _lineage/ directory: each stage directory holds
    its snapshots, MANIFEST.json, MANIFEST.log (one line per publish)
    and the publish lock — nothing else."""
    _, store = result
    assert not (store.root / "_lineage").exists()
    assert {p.name for p in store.root.iterdir()} == set(STAGES)
    for stage in STAGES:
        sdir = store.root / stage
        other = {p.name for p in sdir.iterdir() if not p.name.startswith("snapshot-")}
        assert other == {"MANIFEST.json", "MANIFEST.log", ".MANIFEST.lock"}, stage
        logged = [json.loads(x) for x in (sdir / "MANIFEST.log").read_text().splitlines()]
        assert logged and all("files" in e and "schema" in e for e in logged), stage


def test_repeated_run_compiles_no_generated_classes(spark, pages, result, tmp_path):
    """Each commit records the classes the JVM's codegen compiled for
    its write. The session's codegen cache holds every class of a run,
    so the same run again, into a new store, compiles none at any stage
    (with Spark's default 100-class cache it recompiles about 20 per
    stage)."""
    store = StageStore(tmp_path)
    run_dedup(spark, pages, store, CFG, use_extracted=True, lcs_check=True)
    compiled = {s: store.latest(s)["counters"]["codegen_classes"] for s in STAGES}
    assert compiled == dict.fromkeys(STAGES, 0)
