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
