"""Guard against regrowth of parallel decode loops: the package decodes
page blobs at exactly one call site, the shared loop in ``sources.pages``."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "gosmonaut_spark"


def test_decode_page_np_has_one_call_site():
    sites = []
    for f in sorted(PKG.rglob("*.py")):
        for n in ast.walk(ast.parse(f.read_text(), str(f))):
            if isinstance(n, ast.Call):
                fn = n.func
                name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                if name == "decode_page_np":
                    sites.append(f"{f.relative_to(PKG.parent)}:{n.lineno}")
    assert len(sites) == 1 and sites[0].startswith("gosmonaut_spark/sources/pages.py:"), sites
