"""Physical-plan quality gates: predicate pushdown reaches the scan,
column pruning works, small dims broadcast, big tables don't, and the
JVM-only paths stay inside WholeStageCodegen."""

import re

import pytest
from pyspark.sql import functions as F

from epstein_pipeline_spark.config import DedupConfig
from epstein_pipeline_spark.functions.text import content_hash_expr, normalize_text_expr
from epstein_pipeline_spark.plans.pipeline import minhash_sigs, signatures_stage

SF = "/root/testdata/sf0.01"


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1995-01-01")
        .select("l_orderkey", "l_quantity")
    )
    p = plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p or "LessThanOrEqual(l_shipdate" in p
    # column pruning: the scan must not read all 11 lineitem columns
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read_schema and "l_comment" not in read_schema
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema


def test_small_dim_broadcasts(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
    )
    assert "BroadcastHashJoin" in plan(joined)  # nation (25 rows) must broadcast


def test_broadcast_threshold_regression(spark):
    """Round-1 regression: a 55MB signature table sat under the 64MB
    broadcast threshold and was built/shipped per join, serializing the
    verify stage. The session must keep the threshold conservative; at
    genuinely-small inputs (like this test corpus) broadcasting remains
    correct and allowed."""
    thr = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold").rstrip("b"))
    assert thr <= 16 * 1024 * 1024


def test_exact_path_is_jvm_only(spark, pages):
    """normalize + sha2 + window: no Python evaluation nodes, and
    whole-stage codegen covers the scan+project."""
    from epstein_pipeline_spark.operators.exact import exact_pairs

    df = exact_pairs(pages.select("url", "text"))
    p = plan(df)
    # no Python evaluation anywhere in the exact path (AQE hides
    # WholeStageCodegen spans until execution, so assert the absence of
    # Python nodes rather than the presence of codegen markers)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_extract_stage_arrow_pass_and_parity(spark, pages):
    """Round-6 change: extract runs as ONE MapInArrow pass over an
    explicit (url, warc_ts, lang, html) projection, and its output is
    byte-identical to the spec — the ``py_*`` re twins chained
    extract -> clean -> normalize -> sha256 — on the whole fixture
    corpus."""
    import hashlib

    from epstein_pipeline_spark.functions.text import (
        py_clean_ocr_noise,
        py_extract_text,
        py_normalize_text,
    )
    from epstein_pipeline_spark.plans.pipeline import extract_stage

    out = extract_stage(pages)
    p = plan(out)
    # exactly one Python crossing (the node renders once in the tree
    # and once in the details section of a formatted plan)
    assert p.count("MapInArrow") <= 2 and "MapInArrow" in p
    got = {r["url"]: r for r in out.collect()}
    rows = pages.select("url", "html").collect()
    assert len(got) == len(rows)
    for r in rows:
        ext = py_extract_text(bytes(r["html"]))
        text = py_normalize_text(py_clean_ocr_noise(ext))
        g = got[r["url"]]
        assert g["extracted_text"] == ext
        assert g["text"] == text
        assert g["content_hash"] == hashlib.sha256(text.encode("utf-8")).hexdigest()


def test_band_candidates_single_shuffle(spark, pages):
    """Band candidate generation must contain exactly one Exchange
    (the groupBy) before the dedup shuffle — the sizes-join/self-join
    cascade would show 3+."""
    from epstein_pipeline_spark.operators.lsh import band_rows, candidate_pairs_from_bands

    cfg = DedupConfig(band_bucket_cap=100)
    docs = pages.select("url", normalize_text_expr("text").alias("text"))
    sigs = minhash_sigs(signatures_stage(docs, cfg), cfg).localCheckpoint(eager=True)
    cands = candidate_pairs_from_bands(band_rows(sigs, cfg), cfg)
    import re

    p = plan(cands)
    # formatted explain prints each node in the tree AND a detail
    # section; count the detail headers "(n) Exchange"
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchanges <= 2, f"{n_exchanges} exchanges:\n{p}"


def test_rhp_candidates_single_shuffle(spark):
    """RHP candidate generation must be the single-shuffle groupBy +
    JVM pair expansion with IDS ONLY (the round-1 finding: the float
    vector rode through the n_tables band explosion and a sizes-join +
    self-join cascade added 3 extra shuffles)."""
    import re

    from epstein_pipeline_spark.operators.embed_pass import make_rhp_udf
    from epstein_pipeline_spark.operators.lsh import bucket_pairs

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    udf = make_rhp_udf(None, 16, 8)
    e = embs.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")).withColumn(
        "_buckets", udf("_v")
    )
    bands = e.select("_id", F.posexplode("_buckets").alias("table_i", "bucket"))
    cands = bucket_pairs(bands, ["table_i", "bucket"], F.struct("_id"), 2000).select(
        F.col("p.a._id").alias("id1"), F.col("p.b._id").alias("id2")
    )
    p = plan(cands)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchanges <= 1, f"{n_exchanges} exchanges:\n{p}"
    # the embedding column must NOT survive into the exploded band rows
    assert "_v" not in re.sub(r"_buckets|_vv|_v1|_v2", "", p.split("Exchange", 1)[1])


def test_entity_extract_is_jvm_only_single_scan(spark):
    """P9 extraction is regexp_extract_all + double explode: no Python
    eval nodes, no joins/exchanges — one codegen'd scan."""
    import re

    from epstein_pipeline_spark.operators.entities import extract_entities

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(extract_entities(docs))
    assert "EvalPython" not in p  # no Arrow/Batch python nodes
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0
    assert "Scan parquet" in p


def test_incremental_candidates_semi_join_is_broadcast(spark):
    """The incremental plan's O(new + affected) shape, pinned at the
    physical level: (a) the old-corpus band rows are cut by a
    BROADCAST left-semi join on the delta's bucket keys (a shuffled
    semi would be an O(corpus) exchange per ingest), and (b) the
    exact-pass anchor groupBy runs over the broadcast-semi-restricted
    old docs, not the whole corpus."""
    from epstein_pipeline_spark.operators.lsh import band_rows
    from epstein_pipeline_spark.plans.incremental import _touched_bucket_pairs

    cfg = DedupConfig()
    old = spark.createDataFrame(
        [(f"u{i}", [i] * cfg.num_perm) for i in range(50)], "url string, sig array<long>"
    )
    delta = spark.createDataFrame(
        [(f"d{i}", [i] * cfg.num_perm) for i in range(5)], "url string, sig array<long>"
    )
    pairs = _touched_bucket_pairs(
        band_rows(old, cfg), band_rows(delta, cfg),
        ["band_i", "band_hash"], ["url"], cfg.band_bucket_cap,
    )
    p = plan(pairs)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p[:2000]
    # the semi join must NOT be a sort-merge (shuffle both sides)
    semi_lines = [l for l in p.splitlines() if "LeftSemi" in l]
    assert all("SortMergeJoin" not in l for l in semi_lines), semi_lines


def test_incremental_candidates_large_delta_falls_back_to_shuffle(spark):
    """With the broadcast gate OFF (backfill-sized delta), the same
    semi-join plans WITHOUT a broadcast hint — the shuffled fallback
    that stays under the 8 GB broadcast limit at any delta size."""
    from epstein_pipeline_spark.operators.lsh import band_rows
    from epstein_pipeline_spark.plans.incremental import _touched_bucket_pairs

    cfg = DedupConfig()
    old = spark.createDataFrame(
        [(f"u{i}", [i] * cfg.num_perm) for i in range(50)], "url string, sig array<long>"
    )
    delta = spark.createDataFrame(
        [(f"d{i}", [i] * cfg.num_perm) for i in range(5)], "url string, sig array<long>"
    )
    pairs = _touched_bucket_pairs(
        band_rows(old, cfg), band_rows(delta, cfg),
        ["band_i", "band_hash"], ["url"], cfg.band_bucket_cap,
        bc=lambda df: df,
    )
    logical = pairs._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in logical  # no broadcast pinned anywhere


def test_incremental_exact_anchor_is_delta_restricted(spark, pages, tmp_path):
    """build_exact's anchor: old docs pass through a broadcast semi
    join on the delta's content hashes BEFORE the groupBy — the
    grouped set is O(delta), and the plan shows the broadcast."""
    from epstein_pipeline_spark.plans.checkpoint import StageStore
    from epstein_pipeline_spark.plans.pipeline import run_dedup

    base = pages.filter(F.pmod(F.xxhash64("url"), F.lit(4)) != 0).limit(60)
    store = StageStore(tmp_path / "s")
    run_dedup(spark, base, store, DedupConfig())
    old_docs = store.read(spark, "extract")
    delta_hashes = (
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
        .limit(10)
        .select(content_hash_expr(normalize_text_expr("text")).alias("content_hash"))
        .distinct()
    )
    anchor = (
        old_docs.join(F.broadcast(delta_hashes), "content_hash", "left_semi")
        .groupBy("content_hash")
        .agg(F.min("url").alias("_a"))
    )
    p = plan(anchor)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark n-gram set (tiny vs the corpus) must broadcast;
    the corpus-side gram explode must never shuffle document text —
    the only non-broadcast exchanges are the bench-side distinct and
    the final per-doc groupBy (which carries hit rows only)."""
    from epstein_pipeline_spark.entry_queries import q_decontaminate

    p = plan(q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_repetition_scores_is_shuffle_free(spark):
    """Per-doc repetition metrics are pure array expressions over the
    scan: one map-side pass, zero exchanges."""
    from epstein_pipeline_spark.entry_queries import q_repetition_scores

    p = plan(q_repetition_scores(spark, SF))
    assert "Exchange" not in p
    # and the scan reads only what the query needs
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "lang" not in read_schema


@pytest.mark.parametrize("sig", [signatures_stage], ids=["signatures_stage"])
def test_signature_stages_run_one_wave(spark, sig):
    """The one Python signature stage runs one wave of tasks: an input
    with >= one partition per core is read as is (no Exchange), and an
    under-partitioned one is re-dealt to exactly one partition per
    core."""
    par = spark.sparkContext.defaultParallelism
    cfg = DedupConfig()

    def exchanges(nparts):
        docs = spark.range(0, 64, 1, numPartitions=nparts).select(
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
            F.repeat(F.concat(F.lit("word "), F.col("id").cast("string"), F.lit(" ")), 40)
            .alias("text"),
        )
        p = sig(docs, cfg)._jdf.queryExecution().executedPlan().toString()
        return re.findall(r"Exchange (\w+\(\d+\))", p)

    assert exchanges(par) == []
    assert exchanges(1) == [f"RoundRobinPartitioning({par})"]
