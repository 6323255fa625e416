"""Spark-free semantics of deploy.install_worker_import_cache.

Inside a PySpark task the hook makes ``importlib.invalidate_caches()`` skip
re-reading zip archives whose file has not changed; a changed or removed
archive behaves as stock. Each case runs in its own interpreter so this
process's zipimport stays stock; the task is faked with
``TaskContext._getOrCreate()``, which is what a Python worker calls at the
start of every task."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the hook installs only on CPython < 3.13")

PRELUDE = """
import importlib, os, sys, tempfile, zipfile, zipimport
import pyspark
from pyspark import TaskContext

ZIP = os.path.join(tempfile.mkdtemp(), "mods.zip")

def write_zip(*names):
    with zipfile.ZipFile(ZIP, "w") as zf:
        for n in names:
            zf.writestr(n + ".py", f"NAME = {n!r}\\n")

def reads_of_zip():
    # _read_directory calls on ZIP across one invalidate_caches()
    stock, calls = zipimport._read_directory, []
    def counting(path):
        calls.append(path)
        return stock(path)
    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = stock
    return calls.count(ZIP)

write_zip("zmod_a")
sys.path.insert(0, ZIP)
import zmod_a
stock_method = zipimport.zipimporter.invalidate_caches
"""

IN_TASK = """
TaskContext._getOrCreate()
from wise_spark.deploy import install_worker_import_cache
install_worker_import_cache()
assert zipimport.zipimporter.invalidate_caches is not stock_method
"""


def _run(body: str, in_task: bool = True) -> None:
    code = PRELUDE + (IN_TASK if in_task else "") + textwrap.dedent(body)
    code += "\nprint('CASE-OK')\n"
    p = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=120, cwd=REPO)
    assert p.returncode == 0 and "CASE-OK" in p.stdout, p.stderr[-2000:]


def test_unchanged_zip_is_not_reread():
    _run("""
        assert reads_of_zip() == 1   # an importer's first call reads
        assert reads_of_zip() == 0
        assert reads_of_zip() == 0
        assert zmod_a.NAME == "zmod_a"
    """)


def test_stock_rereads_unchanged_zip():
    # the cost the hook removes: stock re-reads on every call
    _run("""
        assert reads_of_zip() == 1
        assert reads_of_zip() == 1
    """, in_task=False)


def test_rewritten_zip_is_reread_and_new_module_imports():
    _run("""
        reads_of_zip()
        write_zip("zmod_a", "zmod_b")   # in place: same inode, new size
        assert reads_of_zip() == 1
        import zmod_b
        assert zmod_b.NAME == "zmod_b"
        assert reads_of_zip() == 0
    """)


def test_deleted_zip_behaves_as_stock():
    _run("""
        reads_of_zip()
        os.remove(ZIP)
        # every call tries the stock read, which swallows the missing file
        assert reads_of_zip() == 1
        assert reads_of_zip() == 1
        try:
            import zmod_gone
        except ImportError:
            pass
        else:
            raise AssertionError("imported from a deleted zip")
        write_zip("zmod_a", "zmod_back")   # a re-created archive is read again
        assert reads_of_zip() == 1
        import zmod_back
    """)


def test_second_install_is_a_no_op():
    _run("""
        installed = zipimport.zipimporter.invalidate_caches
        install_worker_import_cache()
        assert zipimport.zipimporter.invalidate_caches is installed
        reads_of_zip()
        assert reads_of_zip() == 0
    """)


def test_nothing_installed_outside_a_task():
    _run("""
        assert TaskContext.get() is None
        import wise_spark.deploy
        wise_spark.deploy.install_worker_import_cache()
        assert zipimport.zipimporter.invalidate_caches is stock_method
        assert reads_of_zip() == 1
        assert reads_of_zip() == 1
    """, in_task=False)
