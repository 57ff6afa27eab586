"""Every engine module is reached from a program root (no Spark).

The roots are what runs the engine outside its tests: the driver contract
(``__spark_entry__.py``), the benchmarks (``bench.py``, ``bench_extra.py``,
``perfbench/*.py``) and the operational scripts (``scripts/*.py``).  The walk
parses every ``import`` / ``from ... import`` statement at any depth with
``ast`` (entry_queries imports lazily inside functions) and follows them
through ``geojson_utility_spark``.  A module no root reaches is carried only
by its own tests: route a root through it, or delete it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "geojson_utility_spark"
ROOTS = ("__spark_entry__.py", "bench.py", "bench_extra.py", "perfbench/*.py", "scripts/*.py")


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
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
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


def unreached_modules(repo: Path = REPO) -> list[str]:
    """Engine modules (by path under ``repo``) that no root reaches; empty
    ``__init__.py`` files are exempt."""
    engine = {_module_name(p, repo): p for p in (repo / PKG).rglob("*.py")}
    todo = [(p, "__root__") for pattern in ROOTS for p in sorted(repo.glob(pattern))]
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
    return sorted(
        str(path.relative_to(repo))
        for name, path in engine.items()
        if name not in reached and path.read_text().strip()
    )


def test_every_engine_module_is_reached_from_a_root():
    unreached = unreached_modules()
    assert not unreached, f"engine modules no root imports: {unreached}"


def test_walk_follows_lazy_relative_and_submodule_imports(tmp_path):
    """The walker itself: a function-local import, a relative import and
    ``from package import submodule`` each reach their target; a module no
    statement names is reported, and an empty ``__init__.py`` is not."""
    pkg = tmp_path / PKG
    (pkg / "sub").mkdir(parents=True)
    files = {
        "bench.py": "def main():\n    from geojson_utility_spark import lazy\n",
        f"{PKG}/__init__.py": "",
        f"{PKG}/lazy.py": "from .sub import leaf\n",
        f"{PKG}/sub/__init__.py": "",
        f"{PKG}/sub/leaf.py": "from ..helpers import f\n",
        f"{PKG}/helpers.py": "def f():\n    pass\n",
        f"{PKG}/orphan.py": "X = 1\n",
    }
    for rel, text in files.items():
        (tmp_path / rel).write_text(text)
    assert unreached_modules(tmp_path) == [f"{PKG}/orphan.py"]
