"""Guard against dead code: every top-level function or class in the
package must be referenced from somewhere else in the repository's code."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ["gosmonaut_spark", "tests", "tools", "layerbench", "bench.py", "__spark_entry__.py"]


def _trees(parts):
    for part in parts:
        p = ROOT / part
        for f in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            yield f, ast.parse(f.read_text(), str(f))


def test_every_top_level_def_is_referenced():
    used = set()
    for _f, tree in _trees(SCANNED):
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif isinstance(n, ast.alias):
                used.add(n.name.rsplit(".", 1)[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                used.add(n.value)  # getattr / registry lookups by name
    dead = [
        f"{f.relative_to(ROOT)}:{d.lineno} {d.name}"
        for f, tree in _trees(["gosmonaut_spark"])
        for d in tree.body
        if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and d.name not in used
    ]
    assert not dead, "defined but never referenced:\n" + "\n".join(dead)
