"""Every engine module and every top-level engine name is reached from a
program root (no Spark).

The roots are what runs the engine outside its tests: the driver contract
(``__spark_entry__.py``), the benchmarks (``bench.py``, ``bench_extra.py``,
``perfbench/*.py``) and the operational scripts (``scripts/*.py``).

Modules: the walk parses every ``import`` / ``from ... import`` statement at
any depth with ``ast`` (entry_queries imports lazily inside functions) and
follows them through ``geojson_utility_spark``.  A module no root reaches is
carried only by its own tests: route a root through it, or delete it.

Names: a top-level function, class or constant of a reached module is reached
when an identifier with its name appears in a root, in a module-level
statement that binds no name, or in the body of a reached definition; an
import alone reaches nothing, its uses do.  The match is by name alone, so
the walk can miss an orphan that shares its name with a reached identifier,
but it never reports a name that a root reaches.
``DECLARED_ROOTS`` lists the names kept for a reason other than a root, and
their bodies are walked like a root's.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "geojson_utility_spark"
ROOTS = ("__spark_entry__.py", "bench.py", "bench_extra.py", "perfbench/*.py", "scripts/*.py")

_REFERENCE = "test reference for a live path"
DECLARED_ROOTS = {
    f"{PKG}/operators/knn.py:knn_brute_force": f"{_REFERENCE}: knn_join",
    f"{PKG}/functions/cells.py:cell_to_parent": f"{_REFERENCE}: the cell hierarchy",
    f"{PKG}/functions/cells.py:compact_cells": f"{_REFERENCE}: the compact cover",
    f"{PKG}/functions/cells.py:uncompact_cells": f"{_REFERENCE}: the compact cover",
    f"{PKG}/functions/cells.py:quadkey_to_cell": f"{_REFERENCE}: cell_to_quadkey",
    f"{PKG}/operators/similarity.py:cosine_lsh_recall": (
        f"{_REFERENCE}: pins the LSH banding loss bound of cosine_near_dups"
    ),
    f"{PKG}/operators/validation.py:reject_file_errors": (
        "the reference's file-level upload guards; validates outside input"
    ),
    f"{PKG}/streaming/progress.py:ProgressEmitter": "the reference's SSE progress feed",
    f"{PKG}/streaming/progress.py:run_progress_query": "the reference's SSE progress feed",
    f"{PKG}/fixtures.py:make_locations": "test fixture: seller upload rows",
    f"{PKG}/fixtures.py:GOLDEN_LOCATION_ROWS": "test fixture: golden upload rows",
    f"{PKG}/fixtures.py:NEGATIVE_LOCATION_ROWS": "test fixture: invalid upload rows",
}


def _module_name(path: Path, base: Path) -> str:
    parts = list(path.relative_to(base).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_names(path: Path, module: str) -> set[str]:
    """Dotted names bound by every import statement in ``path``, nested ones
    included.  ``from pkg import name`` yields both ``pkg`` and ``pkg.name``,
    since ``name`` may be a submodule."""
    names: set[str] = set()
    package = module.split(".") if path.name == "__init__.py" else module.split(".")[:-1]
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package[: len(package) - node.level + 1]
                base = ".".join(anchor + ([node.module] if node.module else []))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _roots(repo: Path) -> list[Path]:
    return [p for pattern in ROOTS for p in sorted(repo.glob(pattern))]


def _reached_modules(repo: Path) -> tuple[dict[str, Path], set[str]]:
    """All engine modules by dotted name, and the ones some root imports."""
    engine = {_module_name(p, repo): p for p in (repo / PKG).rglob("*.py")}
    todo = [(p, "__root__") for p in _roots(repo)]
    reached: set[str] = set()
    while todo:
        path, module = todo.pop()
        for name in _imported_names(path, module):
            parts = name.split(".")
            # importing a.b.c runs a/__init__, a/b/__init__ and a/b/c
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in engine and prefix not in reached:
                    reached.add(prefix)
                    todo.append((engine[prefix], prefix))
    return engine, reached


def unreached_modules(repo: Path = REPO) -> list[str]:
    """Engine modules (by path under ``repo``) that no root reaches; empty
    ``__init__.py`` files are exempt."""
    engine, reached = _reached_modules(repo)
    return sorted(
        str(path.relative_to(repo))
        for name, path in engine.items()
        if name not in reached and path.read_text().strip()
    )


def _bound_names(node: ast.stmt) -> list[str]:
    """Names a top-level statement defines (imports are not definitions)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    else:
        return []
    names = []
    for target in targets:
        elts = target.elts if isinstance(target, (ast.Tuple, ast.List)) else [target]
        names.extend(e.id for e in elts if isinstance(e, ast.Name))
    return names


def _identifiers(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
        elif isinstance(sub, ast.alias) and sub.asname:
            out.add(sub.name.rsplit(".", 1)[-1])  # uses go by the alias
    return out


def unreached_names(repo: Path = REPO, declared: dict[str, str] = DECLARED_ROOTS) -> list[str]:
    """Top-level names (as ``path:name``) of reached engine modules that no
    root and no declared root reaches; dunder names are exempt."""
    engine, reached_modules = _reached_modules(repo)
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    todo: list[ast.AST] = [_parse(p) for p in _roots(repo)]
    for module in reached_modules:
        path = engine[module]
        for node in _parse(path).body:
            names = _bound_names(node)
            if not names:
                todo.append(node)  # runs on import: imports, docstrings, calls
            for name in names:
                key = f"{path.relative_to(repo)}:{name}"
                defs.setdefault(name, []).append((key, node))
                if key in declared:
                    todo.append(node)
    seen: set[str] = set()
    while todo:
        for ident in _identifiers(todo.pop()) - seen:
            seen.add(ident)
            todo.extend(node for _, node in defs.get(ident, ()))
    return sorted(
        key
        for name, entries in defs.items()
        if name not in seen and not (name.startswith("__") and name.endswith("__"))
        for key, _ in entries
        if key not in declared
    )


def test_every_engine_module_is_reached_from_a_root():
    unreached = unreached_modules()
    assert not unreached, f"engine modules no root imports: {unreached}"


def test_every_engine_name_is_reached_from_a_root():
    unreached = unreached_names()
    assert not unreached, (
        f"top-level engine names no root reaches: {unreached}; route a root "
        "through each, delete it, or add it to DECLARED_ROOTS with its reason"
    )


def test_declared_roots_are_needed():
    """A declared root that a root already reaches, or whose definition is
    gone, is a stale exception."""
    assert not set(DECLARED_ROOTS) - set(unreached_names(REPO, {}))


def _plant(tmp_path: Path, files: dict[str, str]) -> None:
    for rel, text in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(text)


def test_walk_follows_lazy_relative_and_submodule_imports(tmp_path):
    """The walker itself: a function-local import, a relative import and
    ``from package import submodule`` each reach their target; a module no
    statement names is reported, and an empty ``__init__.py`` is not."""
    _plant(
        tmp_path,
        {
            "bench.py": "def main():\n    from geojson_utility_spark import lazy\n",
            f"{PKG}/__init__.py": "",
            f"{PKG}/lazy.py": "from .sub import leaf\n",
            f"{PKG}/sub/__init__.py": "",
            f"{PKG}/sub/leaf.py": "from ..helpers import f\n",
            f"{PKG}/helpers.py": "def f():\n    pass\n",
            f"{PKG}/orphan.py": "X = 1\n",
        },
    )
    assert unreached_modules(tmp_path) == [f"{PKG}/orphan.py"]


def test_name_walk_reports_orphans_and_follows_bodies(tmp_path):
    """The name walk: an orphan function and an orphan module constant are
    reported; a name used only inside a lazily imported function's body is
    not, nor is a helper reached only through a declared root, nor a dunder."""
    _plant(
        tmp_path,
        {
            "bench.py": "def main():\n    from geojson_utility_spark.ops import run\n    run()\n",
            f"{PKG}/__init__.py": '__version__ = "1"\n',
            f"{PKG}/ops.py": (
                "from .kit import kept\n"
                "LIMIT = 3\n"
                "UNUSED = 4\n"
                "def run():\n    return _inner(LIMIT)\n"
                "def _inner(n):\n    return n\n"
                "def orphan():\n    return run()\n"
            ),
            f"{PKG}/kit.py": (
                "def kept():\n    return _helper()\n"
                "def _helper():\n    return 1\n"
            ),
        },
    )
    declared = {f"{PKG}/kit.py:kept": "test reference"}
    assert unreached_names(tmp_path, declared) == [f"{PKG}/ops.py:UNUSED", f"{PKG}/ops.py:orphan"]
    assert unreached_names(tmp_path, {}) == [
        f"{PKG}/kit.py:_helper",
        f"{PKG}/kit.py:kept",
        f"{PKG}/ops.py:UNUSED",
        f"{PKG}/ops.py:orphan",
    ]
