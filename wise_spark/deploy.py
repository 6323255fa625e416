"""Packaging for executor shipment — the `spark-submit --py-files` story —
and the import set-up of the Python workers that run the engine's kernels.

The north_rule mandates running via ``spark-submit --py-files`` on
multi-executor clusters; this module builds the zip artifact once per
session and registers it with ``sc.addPyFile`` so Python workers can import
``wise_spark`` regardless of driver CWD or deploy mode.

Worker side: PySpark starts every Python task with
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython 3.11 and 3.12 that re-reads the central directory of every zip
on the worker's import path, once per zipimporter: a worker holds ~17 of
them (``pyspark.zip``, the spark-core jar, py4j, the shipped package),
~230 ms of CPU per task against a WAND kernel of a few ms. A reused worker
paid it on every task of every job. ``install_worker_import_cache`` makes
that call skip archives whose file has not changed; CPython 3.13 only
drops the cache entry there, so nothing is installed from 3.13 on.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import weakref
import zipfile


def _source_fingerprint(pkg_dir: str) -> str:
    """Hash of every .py path + content in the package, so the zip name is
    content-addressed: two checkouts at different versions get different
    artifacts instead of truncating/rewriting one shared file mid-fetch."""
    h = hashlib.md5()
    root = os.path.dirname(pkg_dir)
    for dirpath, dirnames, filenames in sorted(os.walk(pkg_dir)):
        dirnames.sort()
        if "__pycache__" in dirpath:
            continue
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            full = os.path.join(dirpath, fn)
            h.update(os.path.relpath(full, root).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def package_zip(dest: str | None = None) -> str:
    """Zip the wise_spark package (sources only, deterministic order).

    The default destination is content-addressed AND per-user
    (wise_spark_pkg_<uid>_<srchash>.zip), written via temp-file + atomic
    rename: concurrent drivers on one box either reuse the identical bytes
    or write a different name — never mutate an artifact an executor is
    fetching (a fixed shared path truncated the registered zip under a
    second driver, BadZipFile on the first driver's late executors)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    if dest is None:
        uid = getattr(os, "getuid", lambda: 0)()
        dest = os.path.join(
            tempfile.gettempdir(),
            f"wise_spark_pkg_{uid}_{_source_fingerprint(pkg_dir)}.zip",
        )
        if os.path.exists(dest):   # content-addressed: identical by name
            return dest
    tmp = f"{dest}.tmp.{os.getpid()}"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in sorted(os.walk(pkg_dir)):
            dirnames.sort()
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(filenames):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                zf.write(full, os.path.relpath(full, root))
    os.replace(tmp, dest)
    return dest


def ship_package(spark) -> str:
    """Make wise_spark importable on executors (idempotent per session).

    Under ``spark-submit --py-files <...>.zip`` the artifact is already
    registered before user code runs; re-adding a freshly built zip with the
    same basename would fail (Spark rejects same-name-different-content
    addFile). ``_python_includes`` holds the basenames of every registered
    py-file (both --py-files and addPyFile), so ANY wise_spark_pkg* entry
    means executors can already import wise_spark and nothing is built —
    the check runs BEFORE packaging so a registered artifact is never
    touched."""
    included = getattr(spark.sparkContext, "_python_includes", None) or []
    for base in included:
        if os.path.basename(base).startswith("wise_spark_pkg"):
            return base
    path = package_zip()
    spark.sparkContext.addPyFile(path)
    return path


def install_worker_import_cache() -> None:
    """Inside a PySpark task on CPython < 3.13, make
    ``zipimporter.invalidate_caches`` re-read an archive only when its file
    changed since that importer's last read through it.

    The file is identified by (inode, size, mtime_ns); a changed, replaced
    or removed archive (``stat`` fails) runs the stock method, so only the
    re-parse of an unchanged file is skipped. An importer's first call
    after install reads as before: a worker pays the old cost on at most
    its first two tasks. The driver is left alone, and a second install is
    a no-op."""
    # a Python worker has imported pyspark before it unpickles any kernel;
    # without it this is no task, and Spark-free users skip the import
    if sys.version_info >= (3, 13) or "pyspark" not in sys.modules:
        return
    from pyspark import TaskContext

    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if TaskContext.get() is None or getattr(stock, "skips_unchanged", False):
        return
    read_as: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            sig = None
        if sig is not None and read_as.get(self) == sig:
            return
        stock(self)
        if sig is None:
            read_as.pop(self, None)
        else:
            read_as[self] = sig

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
