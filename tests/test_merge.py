"""Incremental indexing: extend_index(old, delta) runs Stage A on the delta
and the build's Stages B-D over the base's tokens plus the delta's, so the
extended index is the one a from-scratch build over the union corpus writes
— segment for segment, byte for byte."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from wise_spark.data.queries import reference_queries
from wise_spark.index import FtsIndex, build_index, extend_index

QUERIES = [q for _, q in reference_queries(vocab_size=2000, n=10)]


def test_extend_equals_full_rebuild(spark, corpus_sdf, tmp_path, segment_rows):
    base = corpus_sdf.filter("doc_id < 200")
    delta = corpus_sdf.filter("doc_id >= 200")
    d_base = str(tmp_path / "base")
    d_full = str(tmp_path / "full")
    d_merged = str(tmp_path / "merged")
    kw = dict(url_col="url", n_shards=8, n_buckets=8, n_waves=2)
    build_index(base, d_base, **kw)
    build_index(corpus_sdf, d_full, **kw)
    meta = extend_index(spark, d_base, delta, d_merged, url_col="url")
    full = FtsIndex.load(spark, d_full)
    merged = FtsIndex.load(spark, d_merged, cache=True)
    assert meta.n_docs == full.meta.n_docs
    assert meta.avgdl == full.meta.avgdl
    assert meta.n_terms == full.meta.n_terms
    # the extended segments equal the scratch build's row for row on every
    # column: varbyte payloads, block maxima, wave, max_tfc, sum_tf
    rows_full, rows_merged = segment_rows(d_full), segment_rows(d_merged)
    assert {r["wave"] for r in rows_full} == {0, 1}
    assert len(rows_merged) == len(rows_full)
    assert rows_merged == rows_full
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
    # the extended index keeps the base's layout and its own finished tokens
    # checkpoint, so it can be extended in turn
    with open(os.path.join(d_base, "layout.json")) as f:
        base_layout = json.load(f)
    with open(os.path.join(d_merged, "layout.json")) as f:
        assert json.load(f) == base_layout
    assert os.path.exists(os.path.join(d_merged, "tokens", "_SUCCESS"))


@pytest.fixture(scope="module")
def small_base(spark, corpus_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("extend_base") / "base")
    build_index(corpus_sdf.filter("doc_id < 100"), d, n_shards=8, n_buckets=8,
                n_waves=1)
    return d


@pytest.mark.parametrize("case,match", [
    pytest.param("overlapping_ids", "overlap", id="overlapping_ids"),
    pytest.param("out_dir_is_base", "out_dir must differ", id="out_dir_is_base"),
    pytest.param("base_without_tokens", "no finished", id="base_without_tokens"),
])
def test_extend_rejects(spark, corpus_sdf, tmp_path, small_base, case, match):
    base, out = small_base, str(tmp_path / "out")
    delta = corpus_sdf.filter("doc_id >= 100")
    if case == "overlapping_ids":
        delta = corpus_sdf.filter("doc_id >= 50")
    elif case == "out_dir_is_base":
        out = base
    else:  # e.g. an index written by the old merge, which kept no tokens
        base = str(tmp_path / "tokenless")
        shutil.copytree(small_base, base)
        shutil.rmtree(os.path.join(base, "tokens"))
    with pytest.raises(ValueError, match=match):
        extend_index(spark, base, delta, out)
    # rejected before anything was written; the base is intact
    if out != base:
        assert not os.path.exists(out)
    assert FtsIndex.load(spark, small_base).meta.n_docs == 100
    assert os.path.exists(os.path.join(small_base, "tokens", "_SUCCESS"))


def test_extend_preserves_positions(spark, corpus_sdf, tmp_path):
    """An extend of a positional index must keep with_positions — the
    delta's Stage A runs under the base's flag, so phrase queries work over
    BOTH old and new documents after the extend (round-2 regression: the
    delta dropped positions and the extended index lost them)."""
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
