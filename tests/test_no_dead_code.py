"""Dead-code guard: every top-level function or class defined in the
package must be referenced by code somewhere in the repo's Python
files outside its own definition. A reference is an AST ``Name`` or
``Attribute``, an import alias, or a string constant that is a plain
identifier (fixture and registry names passed as strings). A def under
a registration decorator (``@REGISTRY.add(...)``) is referenced by that
call, which stores it in the query registry. A name that appears only
in a docstring, a comment or a prose ``doc=`` string does not count:
nothing calls it, so delete it instead of carrying it. No Spark, no
allowlist."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "steam_data_pipeline_spark"


def _refs(tree: ast.AST) -> Counter:
    refs: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs.update(node.name.split("."))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.isidentifier()
        ):
            refs[node.value] += 1
    return refs


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Attribute)
        and d.func.attr == "add"
        for d in node.decorator_list
    )


def test_every_package_def_is_referenced():
    trees = {
        p: ast.parse(p.read_text(encoding="utf-8"))
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    }
    uses = Counter()
    for tree in trees.values():
        uses.update(_refs(tree))
    dead = []
    for path in sorted(p for p in trees if PKG in p.parents):
        for node in trees[path].body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            own = _refs(node)[node.name]
            if not _registered(node) and uses[node.name] == own:
                size = node.end_lineno - node.lineno + 1
                dead.append(
                    f"{path.relative_to(REPO)}:{node.lineno} {node.name} "
                    f"({size} lines)"
                )
    assert not dead, f"unreferenced package defs: {dead}"
