"""Every package module, and every top-level package function, must be
reachable from a program entry point.

Modules: walks ``import`` statements with ``ast`` (no Spark, nothing
executed), including imports nested inside functions, starting from the
entry points: ``bench.py``, ``__spark_entry__.py``, ``tools/*.py`` and
``perfbench/*.py``; the query registry is reached through them.

Functions: roots are every name used in the entry-point files, in the
package's module-level statements other than ``def``/``class``/imports/
``__all__`` (they run at import), and in every function registered with
a registry's ``register`` decorator. A reached function reaches every
name its body uses (``Name``, ``Attribute``, identifier string
constants). Names match bare, so the walk over-approximates and never
flags reached code. A module or function reached only by its own tests
fails here: delete it, or wire it in.
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

#: top-level functions and classes kept although no entry point reaches
#: them: referees and observers that tests check reached code against,
#: and the reference ETL's network-bound deployment surface.
ALLOWED_UNREACHED_FUNCTIONS = {
    f"{PKG}.operators.quantize.quantized_cosine_topk": (
        "brute-force referee for quantized_ivf_topk (test_quantize.py)"
    ),
    f"{PKG}.operators.quantize.dequantize": (
        "round-trip error-bound observer of quantize_embeddings "
        "(test_quantize.py)"
    ),
    f"{PKG}.operators.pagerank.pagerank_fixedpoint_sql": (
        "DuckDB twin of pagerank_fixedpoint (test_pagerank.py)"
    ),
    f"{PKG}.streaming.join.purchase_click_pairs_batch": (
        "batch twin of the stream-stream join (test_streaming_join.py, "
        "test_plans.py)"
    ),
    f"{PKG}.operators.multisnapshot.list_group_snapshots": (
        "manifest observer for the group-snapshot commits "
        "(test_multisnapshot.py)"
    ),
    f"{PKG}.sources.fetch.requests_transport": (
        "live HTTP transport of the reference ETL; needs the network "
        "(test_live_transport.py over a local socket, test_ingest.py)"
    ),
    f"{PKG}.sources.scrape_pipeline.discover_fight_urls": (
        "two-level index fan-out of the reference ETL; needs live index "
        "pages (test_ingest.py)"
    ),
    f"{PKG}.sources.scrape_pipeline.discover_fighter_urls": (
        "fighter index fan-out of the reference ETL; needs live index "
        "pages (test_ingest.py)"
    ),
    f"{PKG}.sources.html_source.extract_links": (
        "index-page link parser behind the discovery fan-out "
        "(test_ingest.py)"
    ),
    f"{PKG}.sources.html_source.FightLinksUDTF": (
        "table-function form of the fight-link fan-out (test_ingest.py)"
    ),
    f"{PKG}.sources.html_source.register_fight_links_udtf": (
        "SQL registration of FightLinksUDTF (test_ingest.py)"
    ),
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


def _entry_points() -> list[Path]:
    paths = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    paths += sorted((ROOT / "tools").glob("*.py"))
    paths += sorted((ROOT / "perfbench").glob("*.py"))
    return paths


def _reached(modules: dict[str, Path]) -> set[str]:
    todo = [(p, _module_name(p)) for p in _entry_points()]
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


_DEF_NODES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names_used(node: ast.AST) -> set[str]:
    """Bare names a subtree uses: ``Name`` ids, ``Attribute`` attrs and
    identifier string constants (lookups by name, e.g. ``getattr``)."""
    names: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
        ):
            names.add(n.value)
    return names


def _is_registration(decorator: ast.expr) -> bool:
    """``@register``, ``@REGISTRY.register`` or either called with args."""
    if isinstance(decorator, ast.Call):
        decorator = decorator.func
    if isinstance(decorator, ast.Attribute):
        return decorator.attr == "register"
    return isinstance(decorator, ast.Name) and decorator.id == "register"


def _is_module_plumbing(stmt: ast.stmt) -> bool:
    """Imports and ``__all__``: module-level statements that use names
    without reaching the code behind them."""
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return True
    targets = stmt.targets if isinstance(stmt, ast.Assign) else []
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _package_functions() -> tuple[dict[str, ast.AST], set[str]]:
    """Top-level defs of the package modules not on ALLOWED_UNREACHED,
    by qualified name, and the root names those modules use at import
    or registration."""
    defs: dict[str, ast.AST] = {}
    roots: set[str] = set()
    for modname, path in _package_modules().items():
        if modname in ALLOWED_UNREACHED:
            continue
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if isinstance(stmt, _DEF_NODES):
                defs[f"{modname}.{stmt.name}"] = stmt
                if any(_is_registration(d) for d in stmt.decorator_list):
                    roots |= {stmt.name} | _names_used(stmt)
            elif not _is_module_plumbing(stmt):
                roots |= _names_used(stmt)
    return defs, roots


def _reached_functions(defs: dict[str, ast.AST], roots: set[str]) -> set[str]:
    todo = set(roots)
    for path in _entry_points():
        todo |= _names_used(ast.parse(path.read_text(), str(path)))
    by_name: dict[str, list[str]] = {}
    for qualname in defs:
        by_name.setdefault(qualname.rpartition(".")[2], []).append(qualname)
    seen_names: set[str] = set()
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        seen_names.add(name)
        for qualname in by_name.get(name, []):
            reached.add(qualname)
            todo |= _names_used(defs[qualname]) - seen_names
    return reached


def test_every_package_function_is_reached_from_an_entry_point():
    defs, roots = _package_functions()
    reached = _reached_functions(defs, roots)
    unreached = sorted(
        set(defs) - reached - set(ALLOWED_UNREACHED_FUNCTIONS)
    )
    assert unreached == [], f"functions no entry point reaches: {unreached}"


def test_function_allowlist_names_existing_unreached_functions():
    defs, roots = _package_functions()
    reached = _reached_functions(defs, roots)
    stale = sorted(
        f for f in ALLOWED_UNREACHED_FUNCTIONS if f not in defs or f in reached
    )
    assert stale == [], f"function allowlist entries to drop: {stale}"
