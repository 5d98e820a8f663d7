"""Session contract: settings the storage layer relies on are pinned,
and every session the engine starts carries the engine settings."""

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from epstein_pipeline_spark.session import ENGINE_CONF, get_spark

ROOT = Path(__file__).resolve().parents[1]


def test_speculation_pinned_off(spark):
    # the v2 output committer lets every task attempt commit straight
    # into a snapshot, so a speculative duplicate would land twice
    assert spark.sparkContext.getConf().get("spark.speculation") == "false"


@pytest.mark.parametrize("value", ["true", "TRUE", " True "])
def test_get_spark_refuses_speculation(spark, value):
    with pytest.raises(ValueError, match="speculation"):
        get_spark("tests", cores=4, extra_conf={"spark.speculation": value})


def test_get_spark_accepts_speculation_off(spark):
    assert get_spark("tests", cores=4, extra_conf={"spark.speculation": "false"}) is spark


def test_engine_conf_in_effect(spark):
    """The fixture session is a get_spark session: the context's conf
    (what the block manager reads for the codec) and the session conf
    both carry every engine setting, zstd included."""
    assert ENGINE_CONF["spark.io.compression.codec"] == "zstd"
    sc_conf = spark.sparkContext.getConf()
    for k, v in ENGINE_CONF.items():
        assert sc_conf.get(k) == v, k
        assert spark.conf.get(k) == v, k


def test_engine_session_overrides_submit_conf(tmp_path):
    """The spark-submit commands' session: --conf values that contradict
    the engine settings lose to them (builder options win), so a
    submitted run gets zstd, the v2 committer with speculation off, UTC
    and Arrow whatever the cluster defaults say."""
    contrary = {
        "spark.io.compression.codec": "lz4",
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "1",
        "spark.speculation": "true",
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.execution.arrow.pyspark.enabled": "false",
    }
    assert contrary.keys() == ENGINE_CONF.keys()
    confs = " ".join(f"--conf {k}={v}" for k, v in contrary.items())
    env = dict(
        os.environ,
        PYSPARK_SUBMIT_ARGS=f"--master local[1] --driver-memory 512m --conf spark.ui.enabled=false {confs} pyspark-shell",
        PYTHONPATH=str(ROOT),
    )
    code = (
        "import json\n"
        "from epstein_pipeline_spark.session import ENGINE_CONF, engine_session\n"
        "s = engine_session('tests.engine_session')\n"
        "c = s.sparkContext.getConf()\n"
        "got = {k: [c.get(k), s.conf.get(k)] for k in ENGINE_CONF}\n"
        "print(json.dumps(dict(got, master=c.get('spark.master'))))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    # the submit args were read (their master holds), the engine settings won
    assert got.pop("master") == "local[1]"
    assert got == {k: [v, v] for k, v in ENGINE_CONF.items()}


def _builder_sites(path: Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and n.attr == "builder"
        and isinstance(n.value, ast.Name)
        and n.value.id == "SparkSession"
    ]


def test_no_session_builder_outside_session_module():
    """Every session is built in session.py (get_spark or
    engine_session), so none misses the engine settings."""
    skip = {"dist", ".bench_cache", ".perfbench", ".git"}
    sites = {
        str(p.relative_to(ROOT)): lines
        for p in ROOT.rglob("*.py")
        if not skip & set(p.relative_to(ROOT).parts)
        and p != ROOT / "epstein_pipeline_spark" / "session.py"
        and (lines := _builder_sites(p))
    }
    assert sites == {}
    assert _builder_sites(ROOT / "epstein_pipeline_spark" / "session.py")
