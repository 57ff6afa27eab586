"""Every piece of engine state has a release (no Spark).

``session.py`` holds the engine's one release policy: ``stage`` /
``release_staged`` for checkpoints and ``defer`` / ``release_deferred`` for
state a lazy result still needs after its operator returns.  This test pins
that policy in the source:

- outside ``session.py`` no engine module calls ``clearCache``,
  ``localCheckpoint`` or ``checkpoint``;
- every call that takes state — ``.cache(``, ``.persist(``, ``stage(``,
  ``sparkContext.broadcast(`` and ``saveAsTable`` — binds a handle (the name it
  is assigned to, or the table name ``saveAsTable`` is given), and the same
  top-level function passes that handle to a ``defer(`` or
  ``release_staged(`` call.  State released elsewhere is listed in
  ``OWNERS`` with the function that releases it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "geojson_utility_spark"
SESSION = PKG / "session.py"

FORBIDDEN = {"clearCache", "localCheckpoint", "checkpoint"}
RELEASES = {"defer", "release_staged"}

#: ``module:function:handle`` -> ``module:function`` that releases it.
OWNERS = {
    # the prepared index outlives prepare_polygons: its owner calls unpersist()
    "operators/spatial_join.py:prepare_polygons:cover_idx": (
        "operators/spatial_join.py:PreparedPolygons.unpersist"
    ),
    # the one index broadcast (rings, sorted cover, ids) every join reads
    "operators/spatial_join.py:prepare_polygons:index": (
        "operators/spatial_join.py:PreparedPolygons.unpersist"
    ),
    # each round's labels become `labels`: released the next round, on
    # failure, or deferred with the result
    "operators/dedup.py:dedup_components:new_labels": "operators/dedup.py:dedup_components",
}


def _functions(tree: ast.Module):
    """(qualified name, node) of top-level functions and class methods."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name, node
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    yield f"{node.name}.{sub.name}", sub


def _acquires(call: ast.Call) -> str | None:
    """The kind of state ``call`` takes, or None."""
    f = call.func
    if isinstance(f, ast.Name) and f.id == "stage":
        return "stage"
    if isinstance(f, ast.Attribute):
        if f.attr in ("cache", "persist", "saveAsTable"):
            return f.attr
        if f.attr == "broadcast" and isinstance(f.value, ast.Attribute) and (
            f.value.attr == "sparkContext"
        ):
            return "broadcast"
    return None


def _handle(call: ast.Call, parents: dict[ast.AST, ast.AST]) -> str | None:
    if _acquires(call) == "saveAsTable":
        arg = call.args[0] if call.args else None
        return arg.id if isinstance(arg, ast.Name) else None
    node = call
    while not isinstance(node, ast.stmt):
        node = parents[node]
    targets = node.targets if isinstance(node, ast.Assign) else (
        [node.target] if isinstance(node, ast.AnnAssign) else []
    )
    if len(targets) == 1 and isinstance(targets[0], ast.Name):
        return targets[0].id
    return None


def _released(fn: ast.AST) -> set[str]:
    """Names passed, at any depth, to a defer( or release_staged( call."""
    out: set[str] = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) and (
            node.func.id in RELEASES
        ):
            for arg in node.args:
                out.update(n.id for n in ast.walk(arg) if isinstance(n, ast.Name))
    return out


def _modules(pkg: Path = PKG):
    for path in sorted(pkg.rglob("*.py")):
        if path != SESSION:
            yield str(path.relative_to(pkg)), ast.parse(path.read_text(), filename=str(path))


def state_calls(pkg: Path = PKG) -> list[tuple[str, str, str | None, bool]]:
    """(module:function, kind, handle, released in the same function) of every
    state-taking call outside session.py."""
    found = []
    for rel, tree in _modules(pkg):
        parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        inside = set()
        for name, fn in _functions(tree):
            released = _released(fn)
            for node in ast.walk(fn):
                if isinstance(node, ast.Call) and _acquires(node):
                    inside.add(node)
                    handle = _handle(node, parents)
                    found.append((f"{rel}:{name}", _acquires(node), handle, handle in released))
        for node in ast.walk(tree):  # module level, outside any function
            if isinstance(node, ast.Call) and _acquires(node) and node not in inside:
                found.append((f"{rel}:<module>", _acquires(node), None, False))
    return found


def unreleased(pkg: Path = PKG, owners: dict[str, str] = OWNERS) -> list[str]:
    return sorted(
        f"{where} {kind}() -> {handle}"
        for where, kind, handle, ok in state_calls(pkg)
        if not ok and f"{where}:{handle}" not in owners
    )


def forbidden_calls(pkg: Path = PKG) -> list[str]:
    return sorted(
        f"{rel}:{node.lineno} {node.func.attr}"
        for rel, tree in _modules(pkg)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in FORBIDDEN
    )


def test_only_session_checkpoints_or_clears_the_cache():
    assert forbidden_calls() == []


def test_every_state_taking_call_has_a_release():
    kinds = {kind for _, kind, _, _ in state_calls()}
    assert kinds == {"cache", "persist", "stage", "broadcast", "saveAsTable"}, kinds
    assert unreleased() == []


def test_owner_table_is_live():
    """Each OWNERS entry names a state-taking call that exists, and a releasing
    function that exists and releases something."""
    calls = {f"{where}:{handle}" for where, _, handle, _ in state_calls()}
    funcs = {
        f"{rel}:{name}": fn for rel, tree in _modules() for name, fn in _functions(tree)
    }
    for acquired, owner in OWNERS.items():
        assert acquired in calls, f"stale owner entry {acquired}"
        fn = funcs[owner]
        assert _released(fn) or any(
            isinstance(n, ast.Attribute) and n.attr in ("unpersist", "destroy")
            for n in ast.walk(fn)
        ), owner
