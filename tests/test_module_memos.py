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

Every defaulted parameter of a package function has a caller that
passes it a value other than its default, or an entry with a reason
in ``OPTIONS_ALLOWED``: an option nobody sets is a constant.
"""

from __future__ import annotations

import ast
import fnmatch
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "multichannel_commerce_data_pipeline_spark"
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



# every file whose calls count as callers of a package function
CALLERS = sorted(
    [
        *PACKAGE.rglob("*.py"),
        *ROOT.glob("scripts/*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *ROOT.glob("perfbench/*.py"),
        *ROOT.glob("tests/*.py"),
    ]
)
# "module.function.parameter" fnmatch patterns that stay options
# although no caller in the repo sets them
OPTIONS_ALLOWED = {
    "sources.jdbc.*": "deployment settings of the JDBC edge (driver, "
    "connection properties, fetch and batch sizes, table options) differ "
    "per database",
    "streaming.kafka.kafka_reader.starting_offsets": "deployment setting: "
    "where a new consumer group starts reading",
    "pipeline.silver.oracle_conform_*.root": "oracle bronze root, for "
    "running an oracle over a drop other than the fixtures",
    "pipeline.schemas.oracle_bronze_from.root": "oracle bronze root, as "
    "for the silver oracles",
}
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, ast.expr, int | None]]:
    """(name, default, positional index or None) per defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return [
        (pos[first + j].arg, d, first + j) for j, d in enumerate(a.defaults)
    ] + [
        (arg.arg, d, None)
        for arg, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]


def _walk_defs(tree: ast.Module, module: str):
    """Yield (qualname, node, stack) for every node, where stack lists
    the enclosing defs innermost first and qualname names the innermost
    enclosing def or class (``module.Class.method``)."""

    def walk(node, names, stack):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (*_FUNCS, ast.ClassDef)):
                inner_names = [*names, child.name]
                inner_stack = [child, *stack] if isinstance(child, _FUNCS) else stack
                yield ".".join([module, *inner_names]), child, stack
                yield from walk(child, inner_names, inner_stack)
            else:
                yield ".".join([module, *names]), child, stack
                yield from walk(child, names, stack)

    yield from walk(tree, [], [])


def _package_defs() -> dict[str, list[tuple[str, ast.FunctionDef, bool]]]:
    """simple name -> [(module.qualname, def, is_method)]; a class's
    ``__init__`` is listed under the class name, the name its callers
    call."""
    defs: dict[str, list] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        nodes = list(_walk_defs(ast.parse(path.read_text()), _module_name(path)))
        methods = {
            id(b)
            for _, node, _ in nodes
            if isinstance(node, ast.ClassDef)
            for b in node.body
            if isinstance(b, _FUNCS)
        }
        for qual, node, _ in nodes:
            if isinstance(node, _FUNCS):
                name = qual.split(".")[-2] if node.name == "__init__" else node.name
                defs.setdefault(name, []).append((qual, node, id(node) in methods))
    return defs


def _bound_literal(name: str, scopes: list[ast.AST], kinds) -> ast.expr | None:
    """The literal a local name is bound to (``kw = dict(...)``,
    ``args = (...)``) in the innermost scope that binds it."""
    for scope in scopes:
        for node in ast.walk(scope):
            if (
                isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == name for t in node.targets)
                and isinstance(node.value, kinds)
            ):
                return node.value
    return None


def _call_args(call: ast.Call, scopes: list[ast.AST]):
    """(keywords as {name: value}, positionals or None when a ``*args``
    cannot be resolved, True when a ``**kw`` cannot be resolved);
    ``*args``/``**kw`` bound to a literal tuple, ``dict(...)`` or
    ``{...}`` in an enclosing scope are expanded."""
    kws: dict[str, ast.expr] = {}
    open_kw = False
    for k in call.keywords:
        if k.arg:
            kws[k.arg] = k.value
            continue
        lit = k.value
        if isinstance(lit, ast.Name):
            lit = _bound_literal(lit.id, scopes, (ast.Dict, ast.Call))
        if isinstance(lit, ast.Dict) and all(
            isinstance(key, ast.Constant) for key in lit.keys
        ):
            kws.update({key.value: v for key, v in zip(lit.keys, lit.values)})
        elif (
            isinstance(lit, ast.Call)
            and getattr(lit.func, "id", None) == "dict"
            and not lit.args
            and all(kw.arg for kw in lit.keywords)
        ):
            kws.update({kw.arg: kw.value for kw in lit.keywords})
        else:
            open_kw = True
    pos: list[ast.expr] | None = []
    for a in call.args:
        if not isinstance(a, ast.Starred):
            pos.append(a)
            continue
        lit = a.value
        if isinstance(lit, ast.Name):
            lit = _bound_literal(lit.id, scopes, (ast.Tuple, ast.List))
        if not isinstance(lit, (ast.Tuple, ast.List)) or any(
            isinstance(e, ast.Starred) for e in lit.elts
        ):
            return kws, None, open_kw
        pos.extend(lit.elts)
    return kws, pos, open_kw


def _passed_values(defs) -> dict[tuple[str, str], list]:
    """(qual, parameter) -> one entry per call that passes it:
    "default", "other", or ("fwd", caller qual, caller parameter,
    caller default, default) when the value is the calling function's
    own defaulted parameter."""
    passed: dict[tuple[str, str], list] = {}
    for path in CALLERS:
        tree = ast.parse(path.read_text())
        in_package = path.is_relative_to(PACKAGE)
        module = _module_name(path) if in_package else path.stem
        for scope, call, stack in _walk_defs(tree, module):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in defs:
                continue
            kws, pos, open_kw = _call_args(call, [*stack, tree])
            caller_params = (
                {p: d for p, d, _ in _defaulted(stack[0])}
                if in_package and stack
                else {}
            )
            for qual, fn, is_method in defs[name]:
                args = fn.args.posonlyargs + fn.args.args
                shift = int(
                    is_method
                    and (isinstance(f, ast.Attribute) or fn.name == "__init__")
                    and bool(args)
                    and args[0].arg in ("self", "cls")
                )
                for param, default, index in _defaulted(fn):
                    if param in kws:
                        value = kws[param]
                    elif index is not None and pos is None:
                        value = None
                    elif index is not None and 0 <= index - shift < len(pos):
                        value = pos[index - shift]
                    elif open_kw:
                        value = None
                    else:
                        continue
                    if value is None:
                        kind = "other"
                    elif ast.dump(value) == ast.dump(default):
                        kind = "default"
                    elif isinstance(value, ast.Name) and value.id in caller_params:
                        kind = (
                            "fwd", scope, value.id, caller_params[value.id], default
                        )
                    else:
                        kind = "other"
                    passed.setdefault((qual, param), []).append(kind)
    return passed


def _unused_options() -> list[str]:
    """module.function.parameter for every defaulted parameter that no
    call passes a value other than its default. A value forwarded from
    the caller's own defaulted parameter counts as that parameter's
    default once no call sets the caller's parameter either."""
    defs = _package_defs()
    passed = _passed_values(defs)
    changed = True
    while changed:
        changed = False
        for values in passed.values():
            for i, kind in enumerate(values):
                if isinstance(kind, str):
                    continue
                _, caller, param, caller_default, default = kind
                upstream = passed.get((caller, param), [])
                if "other" in upstream:
                    values[i] = "other"
                elif all(u == "default" for u in upstream):
                    same = ast.dump(caller_default) == ast.dump(default)
                    values[i] = "default" if same else "other"
                else:
                    continue
                changed = True
    return sorted(
        f"{qual}.{param}"
        for entries in defs.values()
        for qual, fn, _ in entries
        for param, _, _ in _defaulted(fn)
        if all(v == "default" for v in passed.get((qual, param), []))
    )


def test_every_defaulted_parameter_has_a_caller():
    unused = [
        option
        for option in _unused_options()
        if not any(fnmatch.fnmatchcase(option, p) for p in OPTIONS_ALLOWED)
    ]
    assert unused == [], (
        f"{len(unused)} defaulted parameters that no call sets to another "
        "value; make each a constant at its use, or add it to "
        "OPTIONS_ALLOWED with a reason: " + ", ".join(unused)
    )
