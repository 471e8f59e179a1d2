"""Guard: per-corpus artifacts live in the one store (artifacts.py).

A module-private name bound to an empty ``{}`` or ``dict()`` at module
level is how a hand-rolled memo starts: unlocked, not single-flight,
keyed its own way. New per-corpus indexes, models and layout reads are
``@artifact`` functions of ``(spark, sf_dir)`` instead. Public module
dicts (the query ``REGISTRY``) are API, not memos, and are not checked.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / (
    "multichannel_commerce_data_pipeline_spark"
)
STORE = PACKAGE / "artifacts.py"

ALLOWED = {
    # per SparkSession, capped same-app siblings; pinned by test_sources
    "tables._LOAD_CACHE",
    # process-wide unresolved Column trees that hold no Spark data
    "functions._COL_MEMO",
    # scratch-dir cleanup registry, not a memo
    "streaming.jobs._STREAM_DIRS",
    # keyed by a caller frame's semanticHash, guarded by sameSemantics
    "operators.dedup._BOILERPLATE_PERSISTED",
}


def _module_name(path: Path) -> str:
    return ".".join(path.relative_to(PACKAGE).with_suffix("").parts)


def _is_empty_dict(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "dict"
        and not node.args
        and not node.keywords
    )


def _module_dicts() -> list[str]:
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == STORE:
            continue
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, ast.Assign):
                targets, value = stmt.targets, stmt.value
            elif isinstance(stmt, ast.AnnAssign):
                targets, value = [stmt.target], stmt.value
            else:
                continue
            if not _is_empty_dict(value):
                continue
            for t in targets:
                if isinstance(t, ast.Name) and t.id.startswith("_"):
                    found.append(f"{_module_name(path)}.{t.id}")
    return found


def test_no_module_level_memo_dicts():
    extra = sorted(set(_module_dicts()) - ALLOWED)
    assert extra == [], (
        f"{len(extra)} module-level dicts outside artifacts.py; make each "
        "an @artifact function of (spark, sf_dir): " + ", ".join(extra)
    )


def test_no_module_reads_another_modules_cache():
    owners = {}
    for qualified in _module_dicts():
        module, name = qualified.rsplit(".", 1)
        owners[name] = module
    peeks = []
    for path in sorted(PACKAGE.rglob("*.py")):
        here = _module_name(path)
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            else:
                continue
            peeks += [
                f"{here} reads {owners[n]}.{n}"
                for n in names
                if n in owners and owners[n] != here
            ]
    assert peeks == []
