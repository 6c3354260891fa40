"""The engine crosses into Python through Arrow: pandas stages are
allowed only in the one stateful operator that still needs them
(``streaming.dedup_stream``'s applyInPandasWithState update function)."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "nreadability_spark")
ALLOWED = {(os.path.join("spark", "streaming.py"), "dedup_stream"),
           (os.path.join("spark", "streaming.py"), "_make_dedup_update")}


def _pandas_uses(tree):
    """(line, top-level def name or None) of every pandas import and every
    applyInPandas*/mapInPandas reference."""
    for top in tree.body:
        owner = (top.name if isinstance(top, (ast.FunctionDef,
                                              ast.AsyncFunctionDef,
                                              ast.ClassDef)) else None)
        for node in ast.walk(top):
            if isinstance(node, ast.Import):
                hit = any(a.name.split(".")[0] == "pandas"
                          for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                hit = (node.module or "").split(".")[0] == "pandas"
            elif isinstance(node, ast.Attribute):
                hit = node.attr.startswith(("applyInPandas", "mapInPandas"))
            else:
                hit = False
            if hit:
                yield node.lineno, owner


def test_pandas_only_in_streaming_dedup():
    found = []
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            found += [(rel, line, owner)
                      for line, owner in _pandas_uses(tree)]
    stray = [f for f in found if (f[0], f[2]) not in ALLOWED]
    assert stray == []
    # the scan itself sees the one allowed stage
    assert {(rel, owner) for rel, _line, owner in found} == ALLOWED
