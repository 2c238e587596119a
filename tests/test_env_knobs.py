"""The package reads only the allowlisted SVH_* environment variables:
scale knobs and the test-time tiny-frame assertion. A plan-variant toggle
lives only inside the change that measures it (compare revisions with
tools/ab_bench.py), never in the shipped package."""

from __future__ import annotations

import ast
import pathlib

import shortvideohybridanalyticslakehouse_spark as pkg

ALLOWED = {
    "SVH_SA_MAX_TOKENS",
    "SVH_CC_BCAST_MAX_NODES",
    "SVH_HITS_BCAST_MAX_NODES",
    "SVH_DRIVER_MEMORY",
    "SVH_ASSERT_TINY_FRAMES",
}


def _env_reads(tree):
    """(lineno, first-argument node) of every os.environ.get(...),
    os.getenv(...) and os.environ[...] in the module."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            on_environ = (
                isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "environ"
            )
            if (name == "get" and on_environ) or name == "getenv":
                yield node.lineno, node.args[0] if node.args else None
        elif isinstance(node, ast.Subscript):
            v = node.value
            if isinstance(v, ast.Attribute) and v.attr == "environ":
                yield node.lineno, node.slice


def test_only_allowlisted_svh_env_reads():
    root = pathlib.Path(pkg.__file__).parent
    bad = []
    for path in sorted(root.rglob("*.py")):
        for line, arg in _env_reads(ast.parse(path.read_text())):
            where = f"{path.relative_to(root)}:{line}"
            if not (isinstance(arg, ast.Constant) and isinstance(arg.value, str)):
                bad.append(f"{where}: env name is not a string literal")
            elif arg.value.startswith("SVH_") and arg.value not in ALLOWED:
                bad.append(f"{where}: {arg.value}")
    assert not bad, bad
