"""Quick dev smoke: synth corpus -> full pipeline -> recall vs truth."""

import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from epstein_pipeline_spark.config import DedupConfig
from epstein_pipeline_spark.session import get_spark
from epstein_pipeline_spark.synth import generate_corpus, pages_to_spark
from epstein_pipeline_spark.plans.checkpoint import StageStore
from epstein_pipeline_spark.plans.pipeline import run_dedup
from epstein_pipeline_spark.functions.text import py_extract_text

from pyspark.sql import functions as F

t0 = time.time()
spark = get_spark("smoke", cores=8, shuffle_partitions=16)
corpus = generate_corpus(n_pages=600, seed=42, mega_cluster_size=40)
print("corpus:", corpus.stats)

pages = pages_to_spark(spark, corpus, partitions=16)

# extraction byte-identity check (sample): extract stage vs its spec
sample = pages.limit(2000).collect()
from epstein_pipeline_spark.plans.pipeline import extract_stage
ext = extract_stage(pages).select("url", F.col("extracted_text").alias("ext")).collect()
py = {r["url"]: py_extract_text(bytes(r["html"])) for r in sample}
mism = [r["url"] for r in ext if r["url"] in py and py[r["url"]] != r["ext"]]
print("extraction mismatches:", len(mism), mism[:3])
if mism:
    u = mism[0]
    got = [r["ext"] for r in ext if r["url"] == u][0]
    print("PY   :", repr(py[u][:300]))
    print("STAGE:", repr(got[:300]))

with tempfile.TemporaryDirectory() as tmp:
    store = StageStore(tmp)
    res = run_dedup(spark, pages, store, DedupConfig(band_bucket_cap=100), use_extracted=False)
    labels = res.labels.toPandas()
    print("stages:", {k: round(v, 2) for k, v in res.stage_seconds.items()})
    print("pairs:", res.pairs.count(), "clusters rows:", res.clusters.count())

    # pair recall vs truth clusters
    import pandas as pd
    truth = corpus.truth_clusters
    m = truth.merge(labels, on="url", how="left")
    # pairs in same truth cluster that ended in same predicted cluster
    cell = m.groupby(["cluster_id_x", "cluster_id_y"]).size()
    import math
    tp = sum(n * (n - 1) // 2 for n in cell)
    tot = sum(n * (n - 1) // 2 for n in truth.groupby("cluster_id").size())
    print(f"pair recall: {tp}/{tot} = {tp/tot:.4f}")

    # false merges: predicted clusters mixing >1 truth cluster + filler
    pred_sizes = labels.groupby("cluster_id").size()
    print("n pred clusters>1:", (pred_sizes > 1).sum(), "truth:", corpus.stats["n_truth_clusters"])

print("total sec:", round(time.time() - t0, 1))
spark.stop()
