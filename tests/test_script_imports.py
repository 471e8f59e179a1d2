"""Guard: every name a script or test imports from the engine resolves,
and every keyword a script passes to an engine function is a parameter
of that function.

No test imports or runs ``scripts/*.py``, ``bench.py`` or the benchmark
harness, so deleting or renaming a package name they import, or a
parameter they pass, breaks them silently. This walks their source (and
the tests') without running it and checks each ``from
multichannel_commerce_data_pipeline_spark... import X`` and ``from bench
import X``, including imports inside functions. Importing the modules
starts no JVM.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
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


# files no test runs: the tests themselves fail on a bad keyword
UNRUN = sorted(
    [
        *ROOT.glob("scripts/*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *ROOT.glob("perfbench/*.py"),
    ]
)


def _engine_names(tree: ast.Module) -> dict[str, object]:
    """local name -> engine object for every ``from <engine> import X``
    (a function, class or module) anywhere in the file."""
    names = {}
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.level:
            continue
        if node.module.split(".")[0] not in ("bench", PACKAGE):
            continue
        for alias in node.names:
            try:
                mod = importlib.import_module(node.module)
                obj = getattr(mod, alias.name, None) or importlib.import_module(
                    f"{node.module}.{alias.name}"
                )
            except ImportError:
                continue  # reported by the import test above
            names[alias.asname or alias.name] = obj
    return names


def _bad_keywords(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    names = _engine_names(tree)
    bad = []
    for call in ast.walk(tree):
        if not isinstance(call, ast.Call):
            continue
        f = call.func
        if isinstance(f, ast.Name):
            target = names.get(f.id)
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            owner = names.get(f.value.id)
            target = getattr(owner, f.attr, None) if inspect.ismodule(owner) else None
        else:
            target = None
        if not callable(target) or inspect.ismodule(target):
            continue
        try:
            params = inspect.signature(target).parameters
        except (TypeError, ValueError):
            continue
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        where = f"{path.relative_to(ROOT)}:{call.lineno}"
        bad += [
            f"{where}: {ast.unparse(f)}({k.arg}=...)"
            for k in call.keywords
            if k.arg and k.arg not in params
        ]
    return bad


def test_engine_keywords_in_scripts_are_parameters():
    bad = [b for path in UNRUN for b in _bad_keywords(path)]
    assert bad == [], "keywords the engine function no longer takes:\n" + "\n".join(
        bad
    )
