"""Spark-free guard: the library reads no tuning or profiling switches from
the environment, the index build does no I/O outside the index dir, and
the serving path has no timer to tune.

The only environment setting the package may read is the deployment choice
of Arrow memory pool in `cluster.py` (WISE_ARROW_POOL). Any other
`WISE_*` / `SPARK_GRAFT_*` read is a hidden build knob; any "/proc/" or
"/tmp/" literal under `wise_spark/index/` is a side channel out of the
build; a sleep or timed wait in `serve.py` is a batching window."""

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


def _timed_waits(tree: ast.AST):
    """Calls that pause for a time: any `sleep(...)` / `time.sleep(...)`,
    and `.wait(...)` / `.wait_for(pred, ...)` given a timeout."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        timeout = any(kw.arg == "timeout" for kw in node.keywords)
        if (name == "sleep"
                or (name == "wait" and (node.args or timeout))
                or (name == "wait_for" and (len(node.args) > 1 or timeout))):
            yield node.lineno, name


def test_no_batching_window_in_serve():
    """The serving path batches by group commit alone: a request waits only
    for the batch in flight, never for a timer, so a batching window cannot
    creep in as a hidden knob."""
    found = [f"serve.py:{line} {name}(...)"
             for rel, tree in _sources() if rel == "serve.py"
             for line, name in _timed_waits(tree)]
    assert not found, "timed waits in wise_spark/serve.py:\n" + "\n".join(found)


@pytest.mark.parametrize("src,expect", [
    ("import time\ntime.sleep(0.01)", ["sleep"]),
    ("from time import sleep\nsleep(1)", ["sleep"]),
    ("cond.wait(0.005)", ["wait"]),
    ("event.wait(timeout=1)", ["wait"]),
    ("cond.wait_for(ready, 0.5)", ["wait_for"]),
    ("cond.wait()", []),
    ("cond.wait_for(ready)", []),
    ("thread.join(timeout=5)", []),
])
def test_timed_wait_scanner_sees_each_form(src, expect):
    assert [n for _, n in _timed_waits(ast.parse(src))] == expect
