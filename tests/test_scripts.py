"""Guard for the tools under scripts/: no new round-stamped one-off script
(measurements go through rcmbench's tracer, not a fresh probe per round),
and every package name a kept script imports or reads off an imported
package module still exists, so an API change breaks this test instead of
silently breaking a tool nothing else runs. A third guard keeps boolean
switches that only tests set out of the package, and a fourth keeps its
allowlist free of switches that no longer exist. The last two do the same
for whole top-level package functions that only tests reach."""

from __future__ import annotations

import ast
import functools
import importlib
import importlib.util
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
PKG = "healthcare_rcm_etl_pipeline_spark"


def _scripts() -> list[str]:
    return sorted(f for f in os.listdir(SCRIPTS) if f.endswith(".py"))


def test_no_round_stamped_scripts():
    stamped = [f for f in _scripts() if re.search(r"_r\d+\.py$", f)]
    assert stamped == [], "round-stamped one-off scripts under scripts/"


def _is_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ModuleNotFoundError:
        return False


def _package_refs(tree: ast.Module) -> list[tuple[str, str, int]]:
    """(module, name, line) for each name of a ``from <package module>
    import ...`` and each attribute read on a name an import binds to a
    package module."""
    refs, modules = [], {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            for a in node.names:
                refs.append((node.module, a.name, node.lineno))
                if _is_module(f"{node.module}.{a.name}"):
                    modules[a.asname or a.name] = f"{node.module}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG) and a.asname:
                    modules[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            refs.append((modules[node.value.id], node.attr, node.lineno))
    return refs


@pytest.mark.parametrize("script", _scripts())
def test_script_package_names_resolve(script):
    with open(os.path.join(SCRIPTS, script)) as f:
        tree = ast.parse(f.read(), script)
    missing = [
        f"{script}:{line} {module}.{name}"
        for module, name, line in _package_refs(tree)
        if not hasattr(importlib.import_module(module), name)
        and not _is_module(f"{module}.{name}")
    ]
    assert missing == []


# Non-test code: every caller a package switch can have outside tests/.
CALLER_ROOTS = (PKG, "bench.py", "rcmbench", "scripts", "__spark_entry__.py", "closeout.py")

# Boolean switches no non-test caller sets, kept on purpose.
TEST_ONLY_SWITCHES_KEPT = {
    ("purge_ids", "steal_lock"): "operator lock-recovery escape hatch "
    "(the lock-held error tells the operator to pass it)",
    ("compact_epochs", "steal_lock"): "operator lock-recovery escape hatch",
}


def _py_files(root: str) -> list[str]:
    path = os.path.join(REPO, root)
    if path.endswith(".py"):
        return [path]
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".py")
    )


# each file is parsed once: the switch and function guards walk the same trees
@functools.lru_cache(maxsize=None)
def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _bool_switches() -> list[tuple[str, str, int | None]]:
    """(function, parameter, position or None if keyword-only) for every
    package parameter whose default is True or False."""
    out = []
    for path in _py_files(PKG):
        for fn in ast.walk(_parse(path)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            defaulted = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
            for arg, d in defaulted + list(zip(a.kwonlyargs, a.kw_defaults)):
                if isinstance(d, ast.Constant) and isinstance(d.value, bool):
                    i = pos.index(arg) if arg in pos else None
                    out.append((fn.name, arg.arg, i))
    return out


def _sets(call: ast.Call, param: str, position: int | None) -> bool:
    """Whether a call may set the parameter: by keyword, by position, or
    through */** unpacking (which this scan cannot see into)."""
    if any(k.arg in (param, None) for k in call.keywords):
        return True
    if any(isinstance(x, ast.Starred) for x in call.args):
        return True
    return position is not None and len(call.args) > position


def test_kept_switches_exist():
    """An allowlist entry whose function or parameter is gone would keep
    excusing a switch that a later change brings back under that name."""
    present = {(fn, param) for fn, param, _ in _bool_switches()}
    assert sorted(set(TEST_ONLY_SWITCHES_KEPT) - present) == []


def test_no_boolean_switch_only_tests_set():
    calls: dict[str, list[ast.Call]] = {}
    for root in CALLER_ROOTS:
        for path in _py_files(root):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = getattr(f, "id", None) or getattr(f, "attr", None)
                    calls.setdefault(name, []).append(node)
    unset = sorted(
        f"{fn}({param}=...)"
        for fn, param, position in _bool_switches()
        if (fn, param) not in TEST_ONLY_SWITCHES_KEPT
        and not any(_sets(c, param, position) for c in calls.get(fn, []))
    )
    assert unset == [], (
        "boolean switches no non-test caller sets (keep the branch production "
        "takes and delete the rest, or allowlist with a reason): " + ", ".join(unset)
    )


# Top-level package functions nothing outside tests/ references, kept on purpose.
TEST_ONLY_FUNCTIONS_KEPT = {
    "sources.readers:read_jdbc": "the paper's Phase 2 extract from the "
    "hospital MySQL databases (PAPER.md)",
    "plans.load:load_warehouse": "the paper's Phase 6 load into the "
    "BigQuery warehouse (PAPER.md)",
    "streaming.ingest:purge_ids": "operator data-removal op (tombstones ids "
    "in every dataset of an ingest base)",
    "streaming.ingest:ingest_stream": "the Structured Streaming driver; it "
    "mints the run token the epoch protocol's replay and rebind rules rely on",
    "streaming.events:stream_from_files": "streaming test harness: a "
    "watermarked parquet file-source stream",
    "streaming.events:run_stream_to_memory": "streaming test harness: drains "
    "a stream into a memory sink (availableNow trigger)",
    "operators.dedup:minhash_signatures_expr": "bit-parity reference the "
    "Arrow minhash kernel is tested against",
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef)


def _is_query(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in fn.decorator_list
    )


def _package_functions() -> list[tuple[str, str, ast.FunctionDef]]:
    """(module:function, path, node) for every top-level package function
    that is not registered with ``@query``."""
    out = []
    for path in _py_files(PKG):
        module = os.path.relpath(path, os.path.join(REPO, PKG))[:-3].replace(os.sep, ".")
        for fn in _parse(path).body:
            if isinstance(fn, _DEF) and not _is_query(fn):
                out.append((f"{module}:{fn.name}", path, fn))
    return out


def _referrers() -> dict[str, set[tuple[str, str | None]]]:
    """Name -> the (path, top-level function or None) places outside tests/
    that mention it as a name, an attribute or an import alias."""
    refs: dict[str, set[tuple[str, str | None]]] = {}
    for root in CALLER_ROOTS:
        for path in _py_files(root):
            for top in _parse(path).body:
                owner = (path, top.name if isinstance(top, _DEF) else None)
                for node in ast.walk(top):
                    if isinstance(node, ast.Name):
                        name = node.id
                    elif isinstance(node, ast.Attribute):
                        name = node.attr
                    elif isinstance(node, ast.alias):
                        name = node.name.rsplit(".", 1)[-1]
                    else:
                        continue
                    refs.setdefault(name, set()).add(owner)
    return refs


def test_kept_functions_exist():
    """An allowlist entry whose function is gone would keep excusing a
    function that a later change brings back under that name."""
    present = {key for key, _, _ in _package_functions()}
    assert sorted(set(TEST_ONLY_FUNCTIONS_KEPT) - present) == []


def test_no_package_function_only_tests_reach():
    refs = _referrers()
    unreached = sorted(
        f"{key} ({fn.end_lineno - fn.lineno + 1} lines)"
        for key, path, fn in _package_functions()
        if key not in TEST_ONLY_FUNCTIONS_KEPT
        and not refs.get(fn.name, set()) - {(path, fn.name)}
    )
    assert unreached == [], (
        "package functions nothing outside tests/ references (delete them with "
        "their tests, or allowlist with a reason): " + ", ".join(unreached)
    )
