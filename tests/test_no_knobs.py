"""Spark-free guard: the library reads no tuning or profiling switches from
the environment, and the index build does no I/O outside the index dir.

The only environment setting the package may read is the deployment choice
of Arrow memory pool in `cluster.py` (WISE_ARROW_POOL). Any other
`WISE_*` / `SPARK_GRAFT_*` read is a hidden build knob; any "/proc/" or
"/tmp/" literal under `wise_spark/index/` is a side channel out of the
build."""

from __future__ import annotations

import ast
import os

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "wise_spark")
ALLOWED_ENV = {("cluster.py", "WISE_ARROW_POOL")}
KNOB_PREFIXES = ("WISE_", "SPARK_GRAFT_")


def _sources():
    for dp, _, fns in os.walk(PKG):
        for fn in sorted(fns):
            if fn.endswith(".py"):
                path = os.path.join(dp, fn)
                with open(path) as f:
                    yield os.path.relpath(path, PKG), ast.parse(f.read(), path)


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ")


def _env_names(tree: ast.AST):
    """Literal names read via os.environ.get / os.environ[...] / os.getenv /
    `"X" in os.environ`."""
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                (f.attr == "get" and _is_environ(f.value)) or f.attr == "getenv"
            ):
                key = node.args[0]
            elif isinstance(f, ast.Name) and f.id == "getenv":
                key = node.args[0]
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Compare) and any(
            isinstance(op, (ast.In, ast.NotIn)) for op in node.ops
        ) and any(_is_environ(c) for c in node.comparators):
            key = node.left
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            yield node.lineno, key.value


def test_no_env_knobs_in_library():
    found = [
        f"{rel}:{line} reads {name}"
        for rel, tree in _sources()
        for line, name in _env_names(tree)
        if name.startswith(KNOB_PREFIXES)
        and (os.path.basename(rel), name) not in ALLOWED_ENV
    ]
    assert not found, "environment knobs in wise_spark/:\n" + "\n".join(found)


def test_no_proc_or_tmp_io_in_index():
    found = [
        f"{rel}:{node.lineno} {node.value!r}"
        for rel, tree in _sources()
        if rel.startswith("index" + os.sep)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and ("/proc/" in node.value or "/tmp/" in node.value)
    ]
    assert not found, "/proc or /tmp literals in wise_spark/index/:\n" + "\n".join(found)


@pytest.mark.parametrize("src,expect", [
    ('import os\nos.environ.get("WISE_X", "1")', ["WISE_X"]),
    ('import os\nos.environ["SPARK_GRAFT_Y"]', ["SPARK_GRAFT_Y"]),
    ('import os\nos.getenv("WISE_Z")', ["WISE_Z"]),
    ('import os\n"WISE_W" in os.environ', ["WISE_W"]),
    ('d = {}\nd.get("WISE_X")', []),
])
def test_env_scanner_sees_each_read_form(src, expect):
    assert [n for _, n in _env_names(ast.parse(src))] == expect
