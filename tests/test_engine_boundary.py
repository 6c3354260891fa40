"""Spark-free source scans of the engine package:

* the engine crosses into Python through Arrow: pandas stages are allowed
  only in the one stateful operator that still needs them
  (``streaming.dedup_stream``'s applyInPandasWithState update function);
* every top-level name the package defines is referenced somewhere outside
  its own definition."""

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "nreadability_spark")
# where a reference to an engine name may live
CALLERS = ["nreadability_spark", "jobs", "scripts", "tests", "perfbench",
           "bench.py", "__spark_entry__.py"]
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


def _py_files(top):
    if top.endswith(".py"):
        yield top
        return
    for dirpath, _dirs, files in os.walk(top):
        for fn in sorted(files):
            if fn.endswith(".py"):
                yield os.path.join(dirpath, fn)


def _top_level_defs(tree):
    """(name, first line, last line) of every top-level def, class and
    assignment target."""
    for top in tree.body:
        if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef,
                            ast.ClassDef)):
            names = [top.name]
        elif isinstance(top, ast.Assign):
            names = [n.id for t in top.targets for n in ast.walk(t)
                     if isinstance(n, ast.Name)
                     and isinstance(n.ctx, ast.Store)]
        elif isinstance(top, ast.AnnAssign) and isinstance(top.target,
                                                           ast.Name):
            names = [top.target.id]
        else:
            names = []
        for name in names:
            yield name, top.lineno, top.end_lineno


def test_no_unreferenced_top_level_names():
    """A top-level def, class or assignment in the package that nothing
    references outside its own definition (whole-word, code or text, in
    the package, jobs, scripts, tests, perfbench or the entry points) is
    dead code. Dunders are exempt."""
    words = Counter()
    lines = {}
    for top in CALLERS:
        for path in _py_files(os.path.join(ROOT, top)):
            with open(path, encoding="utf-8") as f:
                lines[path] = [re.findall(r"\w+", ln)
                               for ln in f.read().splitlines()]
            words.update(w for ln in lines[path] for w in ln)
    unused = []
    for path in _py_files(PKG):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        spans = {}
        for name, first, last in _top_level_defs(tree):
            spans.setdefault(name, []).append((first, last))
        for name, name_spans in spans.items():
            if name.startswith("__") and name.endswith("__"):
                continue
            own = sum(ln.count(name) for first, last in name_spans
                      for ln in lines[path][first - 1:last])
            if words[name] == own:
                unused.append((os.path.relpath(path, ROOT), name))
    assert not unused, f"referenced only by their definition: {unused}"
