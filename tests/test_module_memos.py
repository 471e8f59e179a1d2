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

A stream starts and waits only inside ``streaming.jobs.drain``, lands
``batch-<id>`` dirs only through ``streaming.jobs.land_batch``, and a
stream query builds its scratch dirs and arrival feed through
``streaming.jobs.Feed``, the one place file mtimes are pinned.

A derived on-disk layout is keyed, placed and published only by
``artifacts.layout``: no other module spells the warehouse root or
touches the store's fingerprint and atomic-publish helpers.
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
# stream start/wait and feed mtime calls -> the one helper allowed each
STREAM_CALLS = {
    "trigger": "streaming.jobs.drain",
    "awaitTermination": "streaming.jobs.drain",
    "utime": "streaming.jobs.Feed.arrived",
}
LANDING = "streaming.jobs.land_batch"
# the layout store's root dir and private helpers, spelled only in STORE
WAREHOUSE_ROOT = "mcdp_warehouse"
LAYOUT_HELPERS = {"_materialize_atomic", "_source_fingerprint"}


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


def _scoped(node: ast.AST, scope: str):
    """Yield (qualified name of the innermost enclosing def or class,
    node) for every node under ``node``."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            inner = f"{scope}.{child.name}"
            yield inner, child
            yield from _scoped(child, inner)
        else:
            yield scope, child
            yield from _scoped(child, scope)


def _call_name(node: ast.Call) -> str:
    f = node.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")


def _mentions(node: ast.AST, name: str) -> bool:
    return any(
        isinstance(n, ast.Name) and n.id == name for n in ast.walk(node)
    )


def _stream_mechanics(path: Path) -> list[str]:
    module = _module_name(path)
    found = []
    scratch_tags: dict[str, set[str]] = {}
    for scope, node in _scoped(ast.parse(path.read_text()), module):
        where = f"{scope} (line {getattr(node, 'lineno', '?')})"
        if isinstance(node, ast.Call):
            name = _call_name(node)
            if name in STREAM_CALLS and scope != STREAM_CALLS[name]:
                found.append(f"{where} calls {name}")
            if module.startswith("queries.") and name in (
                "md5",
                "fresh_stream_dir",
            ):
                if name == "fresh_stream_dir" or any(
                    _mentions(a, "sf_dir") for a in node.args
                ):
                    scratch_tags.setdefault(scope, set()).add(name)
        if isinstance(node, ast.JoinedStr) and scope != LANDING:
            parts = node.values
            if any(
                isinstance(p, ast.Constant)
                and str(p.value).endswith("batch-")
                and isinstance(q, ast.FormattedValue)
                for p, q in zip(parts, parts[1:])
            ):
                found.append(f"{where} formats a batch-{{...}} dir")
    found += [
        f"{scope} derives an md5(sf_dir) scratch tag"
        for scope, names in scratch_tags.items()
        if names == {"md5", "fresh_stream_dir"}
    ]
    return found


def test_streams_drain_land_and_feed_through_the_shared_helpers():
    offenders = [
        hit
        for path in sorted(PACKAGE.rglob("*.py"))
        for hit in _stream_mechanics(path)
    ]
    assert offenders == [], (
        f"{len(offenders)} hand-written stream mechanics; start a stream "
        "with streaming.jobs.drain, land a batch with land_batch and "
        "build a query's feed with Feed: " + "; ".join(offenders)
    )


def _layout_mechanics(path: Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        where = f"{_module_name(path)} (line {getattr(node, 'lineno', '?')})"
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and WAREHOUSE_ROOT in node.value
        ):
            found.append(f"{where} spells {WAREHOUSE_ROOT!r}")
        elif isinstance(node, ast.ImportFrom):
            found += [
                f"{where} imports {node.module}.{a.name}"
                for a in node.names
                if a.name in LAYOUT_HELPERS
            ]
        elif isinstance(node, ast.Call) and _call_name(node) in LAYOUT_HELPERS:
            found.append(f"{where} calls {_call_name(node)}")
    return found


def test_layouts_publish_only_through_the_store():
    offenders = [
        hit
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != STORE
        for hit in _layout_mechanics(path)
    ]
    assert offenders == [], (
        f"{len(offenders)} hand-written layout publishes; decorate the "
        "writer with artifacts.layout (ensure_bucketed: "
        "artifacts.warehouse_root): " + "; ".join(offenders)
    )
