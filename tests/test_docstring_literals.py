"""Docstring-literal tripwire: several operator
docstrings state a tuning constant's VALUE in prose next to its name —
e.g. "After 4 (_LPA_ROUNDS) sync rounds", "first 16 (_TRUNC_DIM)
dimensions", "the df cap (<= 200, _TFIDF_DFCAP)".  Those literals are
load-bearing documentation (they flow into CATALOG.md semantics rows),
so changing a constant without its prose would silently desync them.
This test re-derives every such claim from the live module and fails
on any mismatch.

Only DOCSTRINGS are scanned (via ast), never code — source-level hits
like ``range(1, _KCORE_ROUNDS + 1)`` are arithmetic, not claims.
"""

from __future__ import annotations

import ast
import importlib
import pathlib
import re

# "4 (_LPA_ROUNDS)" / "16 (_TRUNC_DIM)" — literal restated before the
# parenthesized constant name.
_PAT_PAREN = re.compile(r"(\d+(?:\.\d+)?)\s*\((_[A-Z][A-Z0-9_]*)\)")
# "≤ 200, _TFIDF_DFCAP" — literal then the constant as an appositive.
_PAT_COMMA = re.compile(r"(\d+(?:\.\d+)?),\s*(_[A-Z][A-Z0-9_]*)\b")

# Matches the tripwire must keep finding: if a docstring rewrite drops
# below this floor the scan has gone vacuous and the test should say so.
_MIN_CLAIMS = 7


def _iter_docstrings(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            doc = ast.get_docstring(node, clean=False)
            if doc:
                yield doc


def test_docstring_literals_match_constants():
    pkg_root = pathlib.Path(__file__).resolve().parent.parent / "i3cols_spark"
    claims = []
    failures = []
    for path in sorted(pkg_root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        docs = list(_iter_docstrings(tree))
        if not docs:
            continue
        mod = None
        for doc in docs:
            for pat in (_PAT_PAREN, _PAT_COMMA):
                for m in pat.finditer(doc):
                    lit, const = m.group(1), m.group(2)
                    if mod is None:
                        rel = path.relative_to(pkg_root.parent).with_suffix("")
                        mod = importlib.import_module(str(rel).replace("/", "."))
                    val = getattr(mod, const, None)
                    claims.append((path.name, lit, const))
                    if not isinstance(val, (int, float)) or float(val) != float(lit):
                        failures.append(
                            f"{path.name}: docstring claims {const} = {lit}, "
                            f"module has {val!r}"
                        )
    assert not failures, "\n".join(failures)
    assert len(claims) >= _MIN_CLAIMS, (
        f"docstring-literal scan found only {len(claims)} claims "
        f"(expected >= {_MIN_CLAIMS}) — pattern gone vacuous? {claims}"
    )
