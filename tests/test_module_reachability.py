"""Every package module must be reachable from a program entry point.

Walks ``import`` statements with ``ast`` (no Spark, nothing executed),
including imports nested inside functions, starting from the entry
points: ``bench.py``, ``__spark_entry__.py``, ``tools/*.py`` and
``perfbench/*.py``; the query registry is reached through them. A module
reached only by its own tests fails here: delete it, or wire it in.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "sports_stats_data_pipeline_spark"

#: modules kept although no entry point imports them; tests use them.
ALLOWED_UNREACHED = {
    f"{PKG}.plans.graph_reference": (
        "union-find referee for neardup_doc_clusters at scale-replica size"
    ),
    f"{PKG}.streaming.fold_reference": (
        "pure-Python referee for the streaming LSH admission fold"
    ),
    f"{PKG}.operators.repetition": (
        "two-level top-n-gram aggregate that pins corpus_quality_filter's fused scan"
    ),
    f"{PKG}.plans.lint": "plan-audit API the plan-shape tests are written in",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}


def _imported_names(path: Path, modname: str) -> set[str]:
    """Absolute dotted names a file imports, ``from X import Y`` giving
    both ``X`` and ``X.Y`` (Y may be a submodule)."""
    is_pkg = path.name == "__init__.py"
    package = modname if is_pkg else modname.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[: len(base) - (node.level - 1)]
                if node.module:
                    base.append(node.module)
                src = ".".join(base)
            else:
                src = node.module or ""
            names.add(src)
            names.update(f"{src}.{alias.name}" for alias in node.names)
    return names


def _reached(modules: dict[str, Path]) -> set[str]:
    roots = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    roots += sorted((ROOT / "tools").glob("*.py"))
    roots += sorted((ROOT / "perfbench").glob("*.py"))
    todo = [(p, _module_name(p)) for p in roots]
    seen: set[str] = set()
    while todo:
        path, modname = todo.pop()
        for name in _imported_names(path, modname):
            parts = name.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            for i in range(1, len(parts) + 1):
                dotted = ".".join(parts[:i])
                if dotted in modules and dotted not in seen:
                    seen.add(dotted)
                    todo.append((modules[dotted], dotted))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    modules = _package_modules()
    unreached = sorted(set(modules) - _reached(modules) - set(ALLOWED_UNREACHED))
    assert unreached == [], (
        f"modules no entry point imports: {unreached}"
    )


def test_allowlist_names_existing_unreached_modules():
    modules = _package_modules()
    reached = _reached(modules)
    stale = sorted(
        m for m in ALLOWED_UNREACHED if m not in modules or m in reached
    )
    assert stale == [], f"allowlist entries to drop: {stale}"
