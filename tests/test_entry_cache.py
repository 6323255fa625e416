"""Driver-entry hot corpus and hot index: regeneration of documents.parquet
must evict (and unpersist) the superseded cached TokenizedCorpus or FtsIndex
instead of leaking a pinned relation per regeneration."""

import os
import shutil
import sys
import time

import pytest
from py4j.protocol import Py4JError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


def _write_docs(spark, sf_dir, rows, schema="doc_id long, text string"):
    p = os.path.join(sf_dir, "documents.parquet")
    if os.path.exists(p):
        shutil.rmtree(p)
        time.sleep(0.02)  # ensure a distinct mtime_ns for the fingerprint
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(p)


def test_ft_corpus_cache_evicts_stale_fingerprints(spark, tmp_path):
    sf = str(tmp_path)
    _write_docs(spark, sf, [(0, "alpha beta"), (1, "gamma delta")])
    c1 = entry._ft_corpus(spark, sf)
    assert c1.n_docs == 2

    _write_docs(spark, sf, [(0, "x y"), (1, "z w"), (2, "p q")])
    c2 = entry._ft_corpus(spark, sf)
    assert c2.n_docs == 3, "stale fingerprint served after regeneration"

    same_path = [k for k in entry._HOT
                 if k == ("corpus", os.path.abspath(sf))]
    assert len(same_path) == 1, "superseded cache entry not evicted"
    assert entry._HOT[same_path[0]][1] is c2
    # NOTE: storageLevel can't distinguish the old from the new cache here —
    # Spark's CacheManager matches canonicalized plans and both corpora read
    # the same parquet path — so the release is asserted structurally:
    # unpersist() ran on the evicted corpus (eviction above), and the new
    # corpus holds its own cached tf relation, the only cached entry left.
    assert c2.tf.is_cached and c2.tf is not c1.tf


def test_index_memo_releases_superseded_index(spark, tmp_path):
    sf = str(tmp_path)
    schema = "doc_id long, text string, source string"
    _write_docs(spark, sf, [(0, "alpha beta", "a"), (1, "gamma delta", "b")],
                schema)
    dirs = []
    try:
        i1 = entry._get_index(spark, sf)
        dirs.append(i1.index_dir)
        assert entry._get_index(spark, sf) is i1
        assert i1.meta.n_docs == 2 and i1._pinned is not None

        _write_docs(spark, sf, [(0, "x y", "a"), (1, "z w", "b"),
                                (2, "p q", "c")], schema)
        i2 = entry._get_index(spark, sf)
        dirs.append(i2.index_dir)
        assert i2.meta.n_docs == 3 and i2._pinned is not None
        assert i1._pinned is None, "superseded index still pinned"
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


class _Session:
    def __init__(self, app_id):
        self.sparkContext = type("Ctx", (), {"applicationId": app_id})()


class _Held:
    def __init__(self, fail=False):
        self.released = 0
        self.fail = fail

    def unpersist(self):
        self.released += 1
        if self.fail:
            raise Py4JError("stopped SparkContext")


def test_hot_memo_tag_and_release(tmp_path, monkeypatch):
    monkeypatch.setattr(entry, "_HOT", {})
    sf = str(tmp_path)
    made = []

    def make(**kw):
        made.append(_Held(**kw))
        return made[-1]

    a = entry._hot(_Session("app-1"), sf, "index", make)
    assert entry._hot(_Session("app-1"), sf, "index",
                      lambda: pytest.fail("make() on a matching tag")) is a

    # a new application releases the held object even when its unpersist
    # raises (a stopped context)
    a.fail = True
    b = entry._hot(_Session("app-2"), sf, "index", make)
    assert b is not a and a.released == 1 and b.released == 0

    # a new data fingerprint releases the held object
    os.makedirs(os.path.join(sf, "documents.parquet"))
    open(os.path.join(sf, "documents.parquet", "part-0.parquet"), "w").close()
    c = entry._hot(_Session("app-2"), sf, "index", make)
    assert c is not b and b.released == 1 and c.released == 0

    # kinds are held apart; one entry per (kind, path)
    d = entry._hot(_Session("app-2"), sf, "corpus", make)
    assert d is not c and c.released == 0
    assert sorted(entry._HOT) == [("corpus", os.path.abspath(sf)),
                                  ("index", os.path.abspath(sf))]
    assert len(made) == 4
