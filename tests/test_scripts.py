"""Guard for the tools under scripts/: no new round-stamped one-off script
(measurements go through rcmbench's tracer, not a fresh probe per round),
and every package name a kept script imports or reads off an imported
package module still exists, so an API change breaks this test instead of
silently breaking a tool nothing else runs."""

from __future__ import annotations

import ast
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
