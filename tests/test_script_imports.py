"""Guard: every name a script or test imports from the engine resolves.

No test imports or runs ``scripts/*.py``, ``bench.py`` or the benchmark
harness, so deleting or renaming a package name they import breaks them
silently. This walks their source (and the tests') without running it
and checks each ``from multichannel_commerce_data_pipeline_spark... import
X`` and ``from bench import X``, including imports inside functions.
Importing the modules starts no JVM.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "multichannel_commerce_data_pipeline_spark"
FILES = sorted(
    [
        *ROOT.glob("scripts/*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *ROOT.glob("perfbench/*.py"),
        *ROOT.glob("tests/*.py"),
    ]
)


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    # a submodule not yet imported, e.g. ``from pkg.queries import core``
    return importlib.util.find_spec(f"{module}.{name}") is not None


def _unresolved(path: Path) -> list[str]:
    bad = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not isinstance(node, ast.ImportFrom) or node.level:
            continue
        if node.module.split(".")[0] not in ("bench", PACKAGE):
            continue
        for alias in node.names:
            try:
                ok = _resolves(node.module, alias.name)
            except ImportError:
                ok = False
            if not ok:
                where = f"{path.relative_to(ROOT)}:{node.lineno}"
                bad.append(f"{where}: from {node.module} import {alias.name}")
    return bad


def test_engine_imports_in_scripts_and_tests_resolve():
    bad = [b for path in FILES for b in _unresolved(path)]
    assert bad == [], "imports of names that no longer exist:\n" + "\n".join(bad)
