"""Python worker entry: pyspark's daemon, run from an unpacked pyspark.

Spark starts a Python daemon per executor as ``python -m <module>
pyspark.worker`` (``spark.python.daemon.module``; stock value
``pyspark.daemon``) with three archives first on its PYTHONPATH:
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and the
spark-core jar that ``PythonUtils`` adds. Each becomes a cached
``zipimporter``, 16 of them once pyspark's subpackages are imported,
and every Python task then calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``), which makes each one re-read its
archive's whole central directory: 6.7 ms for pyspark.zip (1328
entries) and 27.7 ms for the jar (5359 entries), per task. A cold
``import pyspark`` from the zip also takes about twice as long as
from a plain directory (1.1 s against 0.5 s on a 4-vCPU host).

``main`` drops the archives from ``sys.path`` and
``sys.path_importer_cache`` when the rest of the path holds an unpacked
pyspark and py4j of the archives' exact versions, so the daemon and
its forked workers import those instead; otherwise it leaves the path
as it is. Then it runs ``pyspark.daemon``'s manager. It imports only
the standard library before that decision (the package's ``__init__``
loads just the config), so nothing but a namespace package has come
from the archives yet.

``session.py`` sets the module only where the workers can import it;
see ``session.workers_import_entry``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archive_version(archive: str, package: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read(f"{package}/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _unpacked_version(package: str, path: list[str]) -> str | None:
    """Version of ``package`` as ``path`` would import it, if that is a
    plain directory (not another archive)."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def spark_archives(path: list[str]) -> list[str]:
    """The entries of ``path`` that Spark adds for its workers."""
    return [
        p for p in path
        if os.path.isfile(p)
        and (
            os.path.basename(p) == "pyspark.zip"
            or re.fullmatch(r"py4j-.*\.zip", os.path.basename(p))
            or p.endswith(".jar")
        )
    ]


def archives_to_drop(path: list[str]) -> list[str]:
    """The Spark archives on ``path`` if the rest of it imports an
    unpacked pyspark and py4j of exactly the archives' versions, else
    nothing (the path stays as Spark built it)."""
    archives = spark_archives(path)
    rest = [p for p in path if p not in archives]
    for package in ("pyspark", "py4j"):
        packed = {_archive_version(a, package) for a in archives} - {None}
        if len(packed) != 1 or _unpacked_version(package, rest) not in packed:
            return []
    return archives


def main() -> None:
    drop = archives_to_drop(sys.path)
    if drop:
        sys.path[:] = [p for p in sys.path if p not in drop]
        inside = tuple(a + os.sep for a in drop)
        for p in list(sys.path_importer_cache):
            if p in drop or p.startswith(inside):
                del sys.path_importer_cache[p]
        # the namespace package `org` (copy.py probes for Jython's
        # org.python.core) keeps the jar in its __path__, and a later
        # probe would cache a zipimporter for it again
        for name, mod in list(sys.modules.items()):
            if any(str(p).startswith(inside) for p in getattr(mod, "__path__", None) or ()):
                del sys.modules[name]
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
