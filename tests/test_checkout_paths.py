"""No test, tool or benchmark file names a checkout root in a string
literal. A hard-coded root makes a run from a second checkout (an A/B
worktree, a scratch copy) silently import the first checkout's package;
derive the root from ``__file__`` instead."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "shortvideohybridanalyticslakehouse_spark"
SCANNED = ("tests", "tools", "perfbench")
_ABS_PATH = re.compile(r"(?<![\w.~])/[^\s'\"`:;,()\[\]{}]*")


def _names_checkout(path: str) -> bool:
    """``path`` is this checkout, or lies inside a checkout of this repo
    (a directory holding the package)."""
    p = os.path.normpath(path)
    if p == ROOT or p.startswith(ROOT + os.sep):
        return True
    while p != os.path.dirname(p):
        if os.path.isfile(os.path.join(p, PKG, "__init__.py")):
            return True
        p = os.path.dirname(p)
    return False


def _checkout_literals(path: str):
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            for m in _ABS_PATH.finditer(node.value):
                if _names_checkout(m.group()):
                    yield node.lineno, m.group()


def test_no_checkout_root_literals():
    assert _names_checkout(os.path.join(ROOT, "tools"))  # the scan can hit
    hits = []
    for top in SCANNED:
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, top)):
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    hits += [
                        f"{os.path.relpath(path, ROOT)}:{line}: {lit!r}"
                        for line, lit in _checkout_literals(path)
                    ]
    assert not hits, "checkout root named in a literal:\n" + "\n".join(hits)


def _entry_before_package(path: str):
    """Lines where ``path`` imports ``__spark_entry__`` while no import of
    the package precedes it in the same scope or an enclosing one.
    ``__spark_entry__`` puts a fixed checkout path first on ``sys.path``,
    so only a package imported before it binds to the running checkout."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    hits = []

    def names(node):
        if isinstance(node, ast.Import):
            return [a.name for a in node.names]
        if isinstance(node, ast.ImportFrom) and not node.level:
            return [node.module or ""]
        return []

    def scan(node, bound: bool) -> bool:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scan(child, bound)  # its body runs with what is bound now
                continue
            for name in names(child):
                if name.split(".")[0] == PKG:
                    bound = True
                elif name == "__spark_entry__" and not bound:
                    hits.append(child.lineno)
            bound = scan(child, bound)
        return bound

    scan(tree, False)
    return hits


def test_tools_import_package_before_spark_entry():
    hits = []
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, "tools")):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                hits += [
                    f"{os.path.relpath(path, ROOT)}:{line}"
                    for line in _entry_before_package(path)
                ]
    assert not hits, (
        "__spark_entry__ imported before the package:\n" + "\n".join(hits)
    )
