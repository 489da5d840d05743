"""Layout guards for the test suite itself (no Spark).

Tests are grouped by the package family they exercise, never by the
round that added them, and a module must not define one test name twice:
Python keeps only the last definition, so the first test silently stops
running — the trap a merge of two modules sets. One guard reads the
package: its streams drain through one availableNow trigger."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

TESTS = Path(__file__).resolve().parent
PACKAGE = TESTS.parent / "spring_and_kafka_spark"
ROUND_NUMBERED = re.compile(r"test_.*_r\d+.*\.py")


def _test_names(tree: ast.AST) -> list[str]:
    """``test_*`` names per scope: module-level functions, then each
    class's methods prefixed with the class name."""
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names.append(node.name)
        elif isinstance(node, ast.ClassDef):
            names += [
                f"{node.name}.{f.name}"
                for f in node.body
                if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
    return [n for n in names if n.rsplit(".", 1)[-1].startswith("test_")]


def test_no_round_numbered_test_modules():
    numbered = sorted(
        p.name
        for p in TESTS.glob("test_*.py")
        if ROUND_NUMBERED.fullmatch(p.name)
    )
    assert numbered == [], f"name test modules by family, not round: {numbered}"


def test_no_module_defines_a_test_twice():
    shadowed = {}
    for path in sorted(TESTS.glob("test_*.py")):
        counts = Counter(_test_names(ast.parse(path.read_text())))
        dups = sorted(n for n, c in counts.items() if c > 1)
        if dups:
            shadowed[path.name] = dups
    assert shadowed == {}, f"later definitions shadow earlier ones: {shadowed}"


def test_guards_catch_their_traps():
    """The duplicate scan sees module- and class-level repeats and
    leaves same-named tests in different classes alone."""
    src = (
        "def test_a(): pass\n"
        "def test_a(): pass\n"
        "class TestX:\n"
        "    def test_b(self): pass\n"
        "    def test_b(self): pass\n"
        "class TestY:\n"
        "    def test_b(self): pass\n"
    )
    counts = Counter(_test_names(ast.parse(src)))
    assert {n for n, c in counts.items() if c > 1} == {"test_a", "TestX.test_b"}
    assert ROUND_NUMBERED.fullmatch("test_property_r17.py")
    assert ROUND_NUMBERED.fullmatch("test_opt_r18_extra.py")
    assert not ROUND_NUMBERED.fullmatch("test_registry_window.py")


def test_package_has_one_available_now_trigger():
    """Every availableNow drain goes through streaming.sinks'
    run_available_now, so the package passes ``availableNow=True`` once."""
    sites = [
        f"{path.relative_to(PACKAGE)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and any(k.arg == "availableNow" for k in node.keywords)
    ]
    assert len(sites) == 1, sites
