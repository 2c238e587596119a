"""Intermediates are materialized and released one way: through
plans.registry (materialize, the query scope, release_materialized). The
only other storage calls in the package are the serving pipeline's
one-generation `rolled` cache in plans/pipeline.py:decision_context,
whose lifetime spans queries on purpose."""

from __future__ import annotations

import ast
import pathlib

import shortvideohybridanalyticslakehouse_spark as pkg

STORAGE_CALLS = {"localCheckpoint", "persist", "cache", "unpersist"}
# (module, top-level function) -> the storage calls allowed inside it
ALLOWED = {
    ("plans/registry.py", "materialize"): {"localCheckpoint"},
    ("plans/registry.py", "release_materialized"): {"unpersist"},
    ("plans/pipeline.py", "decision_context"): {"persist", "unpersist"},
}


def _storage_calls(tree):
    """(top-level function name or None, call node) for every
    ``.localCheckpoint(`` / ``.persist(`` / ``.cache(`` / ``.unpersist(``."""
    for top in tree.body:
        owner = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in STORAGE_CALLS
            ):
                yield owner, node


def test_storage_calls_only_in_registry_and_serving_cache():
    root = pathlib.Path(pkg.__file__).parent
    bad = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for owner, call in _storage_calls(ast.parse(path.read_text())):
            if call.func.attr not in ALLOWED.get((rel, owner), ()):
                bad.append(f"{rel}:{call.lineno}: .{call.func.attr}(")
    assert not bad, bad
