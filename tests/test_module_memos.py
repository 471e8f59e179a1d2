"""Guard: per-corpus artifacts live in the one store (artifacts.py),
and work fans out only through ``artifacts.concurrently``.

A module-private name bound to an empty ``{}`` or ``dict()`` at module
level is how a hand-rolled memo starts: unlocked, not single-flight,
keyed its own way. New per-corpus indexes, models and layout reads are
``@artifact`` functions of ``(spark, sf_dir)`` instead. Public module
dicts (the query ``REGISTRY``) are API, not memos, and are not checked.

A hand-built thread pool or thread starts its Spark jobs without the
caller's job group, description and scheduler pool; ``concurrently``
carries them over. Locks are not fan-outs and stay allowed.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / (
    "multichannel_commerce_data_pipeline_spark"
)
STORE = PACKAGE / "artifacts.py"

ALLOWED = {
    # process-wide unresolved Column trees that hold no Spark data
    "functions._COL_MEMO",
    # scratch-dir cleanup registry, not a memo
    "streaming.jobs._STREAM_DIRS",
}
# names whose construction starts a thread
THREAD_MAKERS = {"ThreadPoolExecutor", "Thread"}


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


def _fan_outs(path: Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mods = [f"{node.module}.{a.name}" for a in node.names]
        else:
            mods = []
        if any(m.startswith("concurrent.futures") for m in mods):
            found.append(f"imports concurrent.futures (line {node.lineno})")
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            if name in THREAD_MAKERS:
                found.append(f"builds {name} (line {node.lineno})")
    return found


def test_fan_out_only_through_concurrently():
    offenders = {
        _module_name(path): hits
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != STORE and (hits := _fan_outs(path))
    }
    assert offenders == {}, (
        f"{len(offenders)} modules fan out by hand; use "
        "artifacts.concurrently(spark, *thunks): "
        + "; ".join(f"{m}: {', '.join(h)}" for m, h in offenders.items())
    )
