"""Packaging: the pipeline ships and runs via spark-submit --py-files
(north_rule packaging requirement). Runs the real binary end-to-end on
a small corpus, then verifies resume on a second submit.

Every submit runs from a working directory outside the checkout with no
PYTHONPATH, as a production submit does: the package reaches the
workers only through --py-files, after their daemon has started, so
the engine must keep Spark's stock daemon (a daemon module the workers
cannot import would fail every Python task)."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]

pytestmark = pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)


@pytest.fixture(scope="module")
def zipfile_path():
    out = subprocess.run(
        ["bash", str(REPO / "scripts" / "build_pyfiles.sh")], capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr
    return REPO / "dist" / "epstein_pipeline_spark.zip"


def _submit(zip_path: Path, cwd: Path, *args: str) -> str:
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.sql.session.timeZone=UTC",
        "--py-files", str(zip_path),
        str(REPO / "main.py"),
        *args,
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


def test_spark_submit_synth_then_dedup(zipfile_path, tmp_path):
    pages = tmp_path / "pages"
    store = tmp_path / "store"
    clusters = tmp_path / "clusters"

    out1 = _submit(zipfile_path, tmp_path, "synth", "--pages", "300", "--output", str(pages))
    stats = json.loads(out1.strip().splitlines()[-1])
    assert stats["n_pages"] == 300

    out2 = _submit(
        zipfile_path, tmp_path, "dedup", "--input", str(pages), "--store", str(store),
        "--output", str(clusters),
    )
    res = json.loads(out2.strip().splitlines()[-1])
    assert res["docs_in"] == 300 and res["clusters_rows"] > 0

    # second submit resumes: all stages skipped
    out3 = _submit(
        zipfile_path, tmp_path, "dedup", "--input", str(pages), "--store", str(store),
        "--output", str(clusters),
    )
    res3 = json.loads(out3.strip().splitlines()[-1])
    assert all(v == 0.0 for v in res3["stage_seconds"].values()), res3["stage_seconds"]
    assert res3["clusters_rows"] == res["clusters_rows"]

    # lineage audit over the committed store: pure metadata reads, no
    # SparkSession (plain python, not spark-submit), counters present
    out4 = subprocess.run(
        [sys.executable, str(REPO / "main.py"), "lineage", "--store", str(store)],
        capture_output=True, text=True, timeout=120,
    )
    assert out4.returncode == 0, out4.stderr[-2000:]
    lin = json.loads(out4.stdout.strip().splitlines()[-1])
    assert lin["stages"]["extract"]["rows"] == 300
    assert lin["stages"]["extract"]["counters"]["shuffle_write_bytes"] == 0
    assert lin["stages"]["labels"]["counters"]["shuffle_write_bytes"] > 0
    assert lin["stages"]["signatures"]["counters"]["tasks"] >= 1
    assert lin["stages"]["signatures"]["counters"]["task_ms"] > 0
    assert lin["stages"]["signatures"]["counters"]["wall_ms"] > 0
    assert lin["stages"]["signatures"]["counters"]["gc_ms"] >= 0
    assert lin["stages"]["signatures"]["counters"]["codegen_classes"] > 0  # a fresh JVM
    # per-partition rollup agrees with the manifests
    assert lin["lineage"]["extract/snapshot-0"]["rows_out"] == 300
    assert lin["lineage"]["labels/snapshot-0"]["partitions"] >= 1


def test_spark_submit_resolve_trained(zipfile_path, tmp_path, spark):
    """The resolve subcommand through the real binary: planted
    twins/copies merge under EM-trained weights (references the same
    surface as cli.py:2145 resolve-entities)."""
    sys.path.insert(0, str(REPO / "tests"))
    from test_em_training import _persons

    persons = tmp_path / "persons"
    _persons(spark, n=120).write.mode("overwrite").parquet(str(persons))

    out = _submit(
        zipfile_path, tmp_path, "resolve", "--input", str(persons),
        "--output", str(tmp_path / "resolved"), "--train",
    )
    res = json.loads(out.strip().splitlines()[-1])
    # n=120 -> 20 twins (pid%6==0) + 12 copies (pid%10==0) = 32 merges
    assert res["input_records"] == 152
    assert res["merges"] == 32 and res["trained"] is True


def test_spark_submit_ingest_after_dedup(zipfile_path, tmp_path, spark):
    """ingest through the real binary: base dedup + streamed-in delta
    reproduces the full-corpus totals (docs/pairs/clusters)."""
    from epstein_pipeline_spark.synth import generate_corpus, pages_to_spark

    pages = pages_to_spark(spark, generate_corpus(n_pages=300, seed=12, mega_cluster_size=15), partitions=4)
    is_d = F.pmod(F.xxhash64("url"), F.lit(4)) == 0
    base_p, delta_p, full_p = tmp_path / "base", tmp_path / "delta", tmp_path / "fullpages"
    pages.filter(~is_d).write.parquet(str(base_p))
    pages.filter(is_d).write.parquet(str(delta_p))
    pages.write.parquet(str(full_p))

    out_full = _submit(
        zipfile_path, tmp_path, "dedup", "--input", str(full_p),
        "--store", str(tmp_path / "fs"), "--output", str(tmp_path / "fc"),
    )
    full = json.loads(out_full.strip().splitlines()[-1])

    _submit(zipfile_path, tmp_path, "dedup", "--input", str(base_p),
            "--store", str(tmp_path / "s"), "--output", str(tmp_path / "c0"))
    out = _submit(zipfile_path, tmp_path, "ingest", "--input", str(delta_p),
                  "--store", str(tmp_path / "s"), "--output", str(tmp_path / "c1"))
    res = json.loads(out.strip().splitlines()[-1])
    assert res["docs_total"] == 300
    assert res["clusters_rows"] == full["clusters_rows"]
