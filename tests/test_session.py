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
    submitted run gets zstd, the v2 committer with speculation off, UTC,
    Arrow, the larger codegen cache and, on a local master whose workers
    have the package on their PYTHONPATH, the worker entry, whatever the
    cluster defaults say. The working directory is outside the checkout,
    so the workers import the entry from PYTHONPATH: a Python task runs
    and its pyspark comes from outside Spark's archives."""
    contrary = {
        "spark.io.compression.codec": "lz4",
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "1",
        "spark.speculation": "true",
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.execution.arrow.pyspark.enabled": "false",
        "spark.sql.codegen.cache.maxEntries": "100",
        "spark.python.daemon.module": "pyspark.daemon",
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
        "f = s.range(1).rdd.map(lambda _: __import__('pyspark').__file__).first()\n"
        "print(json.dumps(dict(got, master=c.get('spark.master'), worker_pyspark=f)))\n"
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
    assert ".zip" not in got.pop("worker_pyspark")
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


def test_workers_import_an_unpacked_pyspark(spark):
    """The fixture session runs the package's worker entry: inside a
    Python worker pyspark comes from a plain directory, and no Spark
    archive is left for ``invalidate_caches`` to re-read on every task
    (Spark's stock daemon leaves 16 zipimporters over three archives)."""
    def worker_imports(batches):
        import importlib
        import sys

        import pyarrow as pa
        import pyspark

        importlib.invalidate_caches()  # what every task's setup_spark_files calls
        archives = [
            k for k, v in sys.path_importer_cache.items()
            if type(v).__name__ == "zipimporter" and ("pyspark.zip" in k or "py4j" in k or ".jar" in k)
        ]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pyspark": [pyspark.__file__], "archives": [len(archives)]})

    rows = spark.range(0, 4, numPartitions=4).mapInArrow(worker_imports, "pyspark string, archives long").collect()
    assert len(rows) == 4
    for r in rows:
        assert ".zip" not in r.pyspark and ".jar" not in r.pyspark, r.pyspark
        assert r.archives == 0, r.archives


def _fake_archive(path: Path, files: dict[str, str]) -> str:
    import zipfile

    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _fake_unpacked(root: Path, pyspark: str | None, py4j: str | None) -> str:
    for name, version in (("pyspark", pyspark), ("py4j", py4j)):
        if version is not None:
            (root / name).mkdir(parents=True)
            (root / name / "__init__.py").write_text("")
            (root / name / "version.py").write_text(f"__version__: str = '{version}'\n")
    return str(root)


@pytest.mark.parametrize(
    "unpacked, dropped",
    [
        (("4.1.2", "0.10.9.9"), True),
        ((None, "0.10.9.9"), False),  # no unpacked pyspark
        (("4.1.1", "0.10.9.9"), False),  # pyspark of another version
        (("4.1.2", None), False),  # no unpacked py4j
        (("4.1.2", "0.10.9.8"), False),  # py4j of another version
    ],
)
def test_worker_entry_keeps_the_archives_without_a_matching_unpacked_pyspark(tmp_path, unpacked, dropped):
    """The worker entry's decision, on a fake worker path of Spark's
    three archives followed by a site directory: it drops the archives
    only if the site directory holds pyspark and py4j of exactly the
    archives' versions."""
    from epstein_pipeline_spark.daemon import archives_to_drop

    archives = [
        _fake_archive(tmp_path / "spark/python/lib/pyspark.zip", {"pyspark/version.py": "__version__: str = '4.1.2'\n"}),
        _fake_archive(tmp_path / "spark/python/lib/py4j-0.10.9.9-src.zip", {"py4j/version.py": "__version__ = '0.10.9.9'\n"}),
        _fake_archive(tmp_path / "spark/jars/spark-core_2.13-4.1.2.jar", {"org/apache/spark/X.class": ""}),
    ]
    site = _fake_unpacked(tmp_path / "site", *unpacked)
    assert archives_to_drop([str(tmp_path), *archives, site]) == (archives if dropped else [])


def test_worker_entry_is_set_only_where_workers_import_it(tmp_path):
    """A local master whose workers find this checkout first on their
    path (the JVM's working directory, which ``python -m`` puts first,
    or its PYTHONPATH) gets the worker entry; any other master, or a
    path without the checkout or with another copy of the package
    first, keeps Spark's stock daemon."""
    from epstein_pipeline_spark.session import workers_import_entry

    root, other = str(ROOT), str(tmp_path)
    assert workers_import_entry("local[4]", "", root)
    assert workers_import_entry("local", "", root)
    assert workers_import_entry("local[*]", f"/x{os.pathsep}{root}", str(tmp_path))
    assert not workers_import_entry("local[4]", "", other)
    assert not workers_import_entry("local[4]", "", None)
    assert not workers_import_entry("yarn", root, root)
    assert not workers_import_entry("spark://h:7077", root, root)
    assert not workers_import_entry("local-cluster[2,1,1024]", root, root)
    (tmp_path / "epstein_pipeline_spark").mkdir()
    (tmp_path / "epstein_pipeline_spark" / "__init__.py").write_text("")
    assert not workers_import_entry("local[4]", root, other)
