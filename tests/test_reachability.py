"""Import-graph guards.

Every module of the package must be reached by an import walk from the
entry points (``main.py``, ``bench.py``, ``__spark_entry__.py``), so
code that only tests call does not build up again. Importing the
config must stay light: it pulls in none of pyspark, pandas or numpy.
"""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "epstein_pipeline_spark"
ENTRY_POINTS = ["main.py", "bench.py", "__spark_entry__.py"]

# modules kept although no entry point imports them, each with its reason
ALLOWLIST = {
    f"{PKG}.functions.suffixarray": "spec twin: the north rule's suffix-array "
    "LCS, pinned to the rolling-hash kernel the verify pass runs",
    f"{PKG}.functions.checksum": "the golden pins hash query results with it",
    f"{PKG}.streaming.incremental": "the kept streaming surface "
    "(stream_cluster_ingest, run by scripts/measure_stream_ingest.py)",
    f"{PKG}.operators.mixing": "the sort-free scale form of the corpus_mix "
    "entry query's token-budget mix, pinned by tests/test_mixing.py; "
    "its removal is left to a later change",
}


def _module_file(name: str) -> Path | None:
    p = ROOT.joinpath(*name.split("."))
    if (p / "__init__.py").is_file():
        return p / "__init__.py"
    if p.with_suffix(".py").is_file():
        return p.with_suffix(".py")
    return None


def _with_parents(name: str) -> set[str]:
    parts = name.split(".")
    return {".".join(parts[: i + 1]) for i in range(len(parts))}


def _imported_modules(path: Path, module: str) -> set[str]:
    """Package modules ``path`` imports anywhere (function-local and
    relative imports included), with every parent package."""
    package = module if path.name == "__init__.py" else module.rpartition(".")[0]
    names = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            # `from pkg import name` may import a submodule called name
            names += [base] + [f"{base}.{a.name}" for a in node.names]
    out = set()
    for name in names:
        if name.split(".")[0] == PKG:
            out |= _with_parents(name)
    return {m for m in out if _module_file(m) is not None}


def _reached(seeds: set[str]) -> set[str]:
    """``seeds`` and every package module they import, transitively."""
    todo, seen = list(seeds), set()
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo.extend(_imported_modules(_module_file(m), m))
    return seen


def _entry_seeds() -> set[str]:
    return set().union(*(_imported_modules(ROOT / f, "") for f in ENTRY_POINTS))


def _all_modules() -> list[str]:
    mods = []
    for p in sorted((ROOT / PKG).rglob("*.py")):
        parts = list(p.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods.append(".".join(parts))
    return mods


def test_every_module_is_reached_from_an_entry_point():
    kept = set().union(*(_with_parents(m) for m in ALLOWLIST))
    reached = _reached(_entry_seeds() | kept)
    modules = _all_modules()
    report = "\n".join(f"  {'ok  ' if m in reached else 'DEAD'} {m}" for m in modules)
    unreached = [m for m in modules if m not in reached]
    assert not unreached, (
        f"{len(unreached)} of {len(modules)} modules are reached by no entry "
        f"point and not allowlisted:\n{report}"
    )


def test_allowlist_is_needed_and_current():
    reached = _reached(_entry_seeds())
    for m in ALLOWLIST:
        assert _module_file(m) is not None, f"allowlisted {m} does not exist"
        assert m not in reached, f"{m} is reached; drop it from the allowlist"


def test_config_import_pulls_in_no_heavy_modules():
    code = (
        "import sys\n"
        "from epstein_pipeline_spark.config import DEFAULT_CONFIG\n"
        "print(sorted(m for m in ('pyspark', 'pandas', 'numpy') if m in sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]", out.stdout
