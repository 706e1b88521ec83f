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


PLANS = PKG / "plans"
MAX_PLANS_LINES = 4000


def test_plans_modules_stay_small():
    """Queries live in one module per family; no module in ``plans/``
    grows back into a catch-all."""
    sizes = {
        p.name: len(p.read_text(encoding="utf-8").splitlines())
        for p in sorted(PLANS.glob("*.py"))
    }
    big = {name: n for name, n in sizes.items() if n > MAX_PLANS_LINES}
    assert not big, f"plans modules over {MAX_PLANS_LINES} lines: {big}"


def test_plans_private_names_have_one_home():
    """A private helper or constant is defined in exactly one ``plans/``
    module; other modules import it from there instead of carrying a
    copy (imports are not definitions)."""
    homes: dict[str, list[str]] = {}
    for path in sorted(PLANS.glob("*.py")):
        names = set()
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names.update(
                    n.id for tg in targets for n in ast.walk(tg) if isinstance(n, ast.Name)
                )
        for name in names:
            if name.startswith("_"):
                homes.setdefault(name, []).append(path.name)
    dup = {n: ps for n, ps in sorted(homes.items()) if len(ps) > 1}
    assert not dup, f"private names defined in more than one plans module: {dup}"
