"""Guard for tests/slow_manifest.txt, the list of tests the default run
deselects: a stale entry silently stops deselecting anything, and a module
whose every test is listed drops out of the default run entirely."""

from __future__ import annotations

import os
import subprocess
import sys

from conftest import _slow_nodeids

TESTS = os.path.dirname(os.path.abspath(__file__))


def _collected_nodeids() -> set[str]:
    """Every test node id under tests/, slow ones included."""
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests", "--collect-only", "-q",
         "-m", "", "-p", "no:cacheprovider"],
        cwd=os.path.dirname(TESTS), capture_output=True, text=True, check=True,
    ).stdout
    return {line for line in out.splitlines() if line.startswith("tests/") and "::" in line}


def test_manifest_entries_resolve_and_every_module_keeps_a_fast_test():
    collected = _collected_nodeids()
    slow = _slow_nodeids()
    assert slow - collected == set(), "manifest entries that match no collected test"
    modules = {nodeid.split("::")[0] for nodeid in collected}
    fast_modules = {nodeid.split("::")[0] for nodeid in collected - slow}
    assert modules - fast_modules == set(), "modules with no fast-tier test"
