"""Dead-code guard: every top-level function or class defined in the
package must be named somewhere in the repo's Python files outside its
own definition. A def that only its own body mentions has no caller —
delete it instead of carrying it. No Spark, no allowlist."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "steam_data_pipeline_spark"
WORD = re.compile(r"\w+")


def test_every_package_def_is_referenced():
    sources = {
        p: p.read_text(encoding="utf-8")
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    }
    uses = Counter(w for src in sources.values() for w in WORD.findall(src))
    dead = []
    for path in sorted(p for p in sources if PKG in p.parents):
        lines = sources[path].split("\n")
        for node in ast.parse(sources[path]).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            own = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            if uses[node.name] == WORD.findall(own).count(node.name):
                dead.append(f"{path.relative_to(REPO)}:{node.lineno} {node.name}")
    assert not dead, f"unreferenced package defs: {dead}"
