"""Incremental indexing: extend_index(old, delta) must be rank-identical —
indeed score-identical — to a from-scratch build over the union corpus
(block maxima are re-encoded under the merged avgdl)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from wise_spark.data.queries import reference_queries
from wise_spark.index import FtsIndex, build_index
from wise_spark.index.merge import extend_index, merge_indexes

QUERIES = [q for _, q in reference_queries(vocab_size=2000, n=10)]


def test_extend_equals_full_rebuild(spark, corpus_sdf, tmp_path):
    base = corpus_sdf.filter("doc_id < 200")
    delta = corpus_sdf.filter("doc_id >= 200")
    d_base = str(tmp_path / "base")
    d_full = str(tmp_path / "full")
    d_merged = str(tmp_path / "merged")
    kw = dict(url_col="url", n_shards=8, n_buckets=8, n_salts=2, n_waves=2)
    build_index(base, d_base, **kw)
    build_index(corpus_sdf, d_full, **kw)
    meta = extend_index(spark, d_base, delta, d_merged, url_col="url")
    full = FtsIndex.load(spark, d_full)
    merged = FtsIndex.load(spark, d_merged, cache=True)
    assert meta.n_docs == full.meta.n_docs
    assert meta.avgdl == full.meta.avgdl
    assert meta.n_terms == full.meta.n_terms
    # the merged terms table equals the scratch build's, row for row
    cols = ["term", "df", "max_tfc"]
    ta = full._terms.select(*cols).toPandas().sort_values("term", ignore_index=True)
    tb = merged._terms.select(*cols).toPandas().sort_values("term", ignore_index=True)
    pd.testing.assert_frame_equal(ta, tb, check_exact=True)
    for q in QUERIES:
        for mode in ("all", "any"):
            a = full.topk(q, k=12, mode=mode).toPandas()
            b = merged.topk(q, k=12, mode=mode).toPandas()
            assert a["doc_id"].tolist() == b["doc_id"].tolist(), (q, mode)
            np.testing.assert_allclose(a["score"], b["score"], atol=0, err_msg=q)
    # doc_map covers the union
    assert merged.doc_map().count() == 300


def test_merge_rejects_overlap_and_shard_mismatch(spark, corpus_sdf, tmp_path):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    c = str(tmp_path / "c")
    build_index(corpus_sdf.filter("doc_id < 100"), a, n_shards=8, n_buckets=8, n_waves=1)
    build_index(corpus_sdf.filter("doc_id < 50"), b, n_shards=8, n_buckets=8, n_waves=1)
    with pytest.raises(ValueError, match="overlap"):
        merge_indexes(spark, a, b, str(tmp_path / "out1"))
    build_index(corpus_sdf.filter("doc_id >= 100"), c, n_shards=4, n_buckets=8, n_waves=1)
    with pytest.raises(ValueError, match="shard count"):
        merge_indexes(spark, a, c, str(tmp_path / "out2"))


def test_extend_preserves_positions(spark, corpus_sdf, tmp_path):
    """An extend of a positional index must keep with_positions — the delta
    build inherits the base's flag, so phrase queries work over BOTH old and
    new documents after the extend (round-2 regression: the delta dropped
    positions and merge computed A AND B = False)."""
    base = corpus_sdf.filter("doc_id < 200")
    delta = corpus_sdf.filter("doc_id >= 200")
    d_base = str(tmp_path / "pbase")
    d_merged = str(tmp_path / "pmerged")
    kw = dict(url_col="url", n_shards=8, n_buckets=8, n_waves=1,
              with_positions=True)
    build_index(base, d_base, **kw)
    meta = extend_index(spark, d_base, delta, d_merged, url_col="url")
    assert meta.extras.get("with_positions") is True
    merged = FtsIndex.load(spark, d_merged)
    # a phrase drawn from a NEW document must be findable
    row = delta.select("doc_id", "text").limit(1).collect()[0]
    words = row["text"].split()[:2]
    if len(words) == 2:
        hits = merged.phrase_matches(" ".join(words)).toPandas()
        assert row["doc_id"] in set(hits["doc_id"])
