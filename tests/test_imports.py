"""Import-graph checks, read from the sources with ``ast``; no Spark
session is started.

(a) The engine (``pyspark_recs/`` outside ``workloads/``) must not import
the benchmark registry (``pyspark_recs.workloads``): the registry is
built on the engine, not the other way round.

(b) Every ``from pyspark_recs... import name`` in the repo's Python,
lazy imports inside functions included, must resolve. A helper that
moves and is still imported from its old home then fails here, not
only when the function holding the lazy import first runs.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "pyspark_recs"
REGISTRY = "pyspark_recs.workloads"

# The registry's command line (``python -m pyspark_recs list|run|oracle``)
# is the one engine-level module whose job is to drive the registry.
REGISTRY_CLI = "__main__.py"


def _sources() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("pyspark_recs", "tests", "tools", "perfbench"):
        files.extend(sorted((ROOT / d).rglob("*.py")))
    return files


def _imports(tree: ast.AST):
    """(lineno, module, name) for every absolute import in the tree,
    nested ones included; ``name`` is None for ``import module``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name, None
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            for alias in node.names:
                yield node.lineno, node.module, alias.name


def _imports_registry(module: str, name: str | None) -> bool:
    # ``from pyspark_recs import workloads`` counts too
    dotted = module if name is None else f"{module}.{name}"
    return dotted == REGISTRY or dotted.startswith(REGISTRY + ".")


def test_engine_does_not_import_the_registry():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG)
        if rel.parts[0] == "workloads" or str(rel) == REGISTRY_CLI:
            continue
        tree = ast.parse(path.read_text(), str(path))
        offenders += [
            f"pyspark_recs/{rel}:{line} imports {module} {name or ''}"
            for line, module, name in _imports(tree)
            if _imports_registry(module, name)
        ]
    assert not offenders, "\n".join(offenders)


def _unresolved(imports) -> list[str]:
    """The ``(where, module, name)`` imports that do not resolve."""
    missing = []
    for where, module, name in sorted(set(imports), key=str):
        try:
            mod = importlib.import_module(module)
        except ImportError as exc:
            missing.append(f"{where}: {module} ({exc})")
            continue
        if name is None or name == "*" or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            missing.append(f"{where}: {module}.{name}")
    return missing


def test_every_package_import_resolves():
    imports = {}
    for path in _sources():
        tree = ast.parse(path.read_text(), str(path))
        for line, module, name in _imports(tree):
            if module.split(".")[0] == "pyspark_recs":
                imports[module, name] = f"{path.relative_to(ROOT)}:{line}"
    assert len(imports) > 100, "the scan found too few package imports"
    missing = _unresolved((w, m, n) for (m, n), w in imports.items())
    assert not missing, "\n".join(missing)


def test_checks_see_lazy_imports_and_stale_names():
    # Negative controls: a lazy registry import inside a function is
    # seen, and a name that no longer exists at its old home, or a
    # module that does not exist, is reported.
    tree = ast.parse(
        "def f():\n"
        "    from pyspark_recs.workloads.common import shared_plan\n"
    )
    assert [_imports_registry(m, n) for _, m, n in _imports(tree)] == [True]
    assert _unresolved(
        [
            ("t", "pyspark_recs.workloads.common", "no_such_helper"),
            ("t", "pyspark_recs.no_such_module", None),
            ("t", "pyspark_recs.session", "get_spark"),
            ("t", "pyspark_recs.llmops", "pipeline"),
        ]
    ) == [
        "t: pyspark_recs.no_such_module (No module named "
        "'pyspark_recs.no_such_module')",
        "t: pyspark_recs.workloads.common.no_such_helper",
    ]
