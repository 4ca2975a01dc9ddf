"""Every ``conftest.SLOW_TESTS`` entry must name an existing test.

An entry that names a deleted or renamed test silently gates nothing.
Static: reads ``conftest.py`` and the test files with ``ast`` only.
"""

from __future__ import annotations

import ast
from pathlib import Path

TESTS = Path(__file__).resolve().parent


def _slow_tests() -> set[str]:
    tree = ast.parse((TESTS / "conftest.py").read_text())
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "SLOW_TESTS" for t in stmt.targets
        ):
            return ast.literal_eval(stmt.value)
    raise AssertionError("conftest.py defines no SLOW_TESTS")


def _test_functions(path: Path) -> set[str]:
    return {
        stmt.name
        for stmt in ast.parse(path.read_text()).body
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_every_slow_test_entry_names_an_existing_test():
    dangling = []
    for entry in sorted(_slow_tests()):
        filename, _, func = entry.partition("::")
        func = func.split("[", 1)[0]
        path = TESTS / filename
        if not path.is_file() or func not in _test_functions(path):
            dangling.append(entry)
    assert dangling == [], f"SLOW_TESTS entries naming no test: {dangling}"
