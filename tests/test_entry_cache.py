"""Driver-entry corpus cache: regeneration of documents.parquet must evict
(and unpersist) the superseded cached TokenizedCorpus instead of leaking a
pinned relation per regeneration (ADVICE r4)."""

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


def _write_docs(spark, sf_dir, rows):
    p = os.path.join(sf_dir, "documents.parquet")
    if os.path.exists(p):
        shutil.rmtree(p)
        time.sleep(0.02)  # ensure a distinct mtime_ns for the fingerprint
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1) \
        .write.parquet(p)


def test_ft_corpus_cache_evicts_stale_fingerprints(spark, tmp_path):
    sf = str(tmp_path)
    _write_docs(spark, sf, [(0, "alpha beta"), (1, "gamma delta")])
    c1 = entry._ft_corpus(spark, sf)
    assert c1.n_docs == 2

    _write_docs(spark, sf, [(0, "x y"), (1, "z w"), (2, "p q")])
    c2 = entry._ft_corpus(spark, sf)
    assert c2.n_docs == 3, "stale fingerprint served after regeneration"

    same_path = [k for k in entry._FT_CORPUS_CACHE
                 if k[1] == os.path.abspath(sf)]
    assert len(same_path) == 1, "superseded cache entry not evicted"
    # NOTE: storageLevel can't distinguish the old from the new cache here —
    # Spark's CacheManager matches canonicalized plans and both corpora read
    # the same parquet path — so the release is asserted structurally:
    # unpersist() ran on the evicted corpus (eviction above), and the new
    # corpus holds its own cached tf relation, the only cached entry left.
    assert c2.tf.is_cached and c2.tf is not c1.tf
