"""Structured Streaming incremental build: files arriving in batches produce
versioned indexes; the final version is rank-identical to a full batch build;
a resumed stream does not reprocess old files."""

from __future__ import annotations

import os

import numpy as np
import pytest

from wise_spark.data.corpus import corpus_pandas
from wise_spark.index import FtsIndex, build_index
from wise_spark.streaming import current_index_dir, stream_build_index

SCHEMA = "doc_id long, url string, text string"


@pytest.fixture(scope="module")
def staged_input(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_in"))
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        pdf = corpus_pandas(np.arange(lo, hi), seed=42, vocab_size=2000)
        spark.createDataFrame(pdf[["doc_id", "url", "text"]]).coalesce(1).write.mode(
            "append"
        ).parquet(d)
    return d


def test_stream_builds_versions_rank_identical(
    spark, staged_input, tmp_path, corpus_sdf, segment_rows,
):
    root = str(tmp_path / "stream_idx")
    stream_build_index(
        spark, staged_input, root, SCHEMA, url_col="url",
        n_shards=8, n_buckets=8, max_files_per_trigger=1,
    )
    cur = current_index_dir(root)
    assert cur is not None and os.path.basename(cur) == "v000002"
    streamed = FtsIndex.load(spark, cur, cache=True)
    assert streamed.meta.n_docs == 300

    full_dir = str(tmp_path / "full_idx")
    build_index(corpus_sdf, full_dir, url_col="url", n_shards=8, n_buckets=8, n_waves=1)
    full = FtsIndex.load(spark, full_dir)
    for q in ["nababa pebaba", "the", "cebaba dibaba"]:
        a = streamed.topk(q, k=10, mode="any").toPandas()
        b = full.topk(q, k=10, mode="any").toPandas()
        assert a["doc_id"].tolist() == b["doc_id"].tolist(), q
        np.testing.assert_allclose(a["score"], b["score"], atol=0)
    # v1 and v2 are extends of the version before: each is the scratch
    # build over every batch so far, down to the segment bytes
    assert segment_rows(cur) == segment_rows(full_dir)

    # resume: re-running the stream over the same input is a no-op (offsets
    # are checkpointed) — no new version appears
    stream_build_index(
        spark, staged_input, root, SCHEMA, url_col="url",
        n_shards=8, n_buckets=8, max_files_per_trigger=1,
    )
    assert os.path.basename(current_index_dir(root)) == "v000002"


def test_stream_checkpoint_reset_rebuilds_not_replays(
    spark, staged_input, tmp_path,
):
    """A NEW stream incarnation over an old index_root (checkpoint lost or
    deleted) must rebuild its versions from the data it reads — the old
    replay guard saw v000000/meta.json from the previous incarnation and
    silently re-published stale data while dropping the new batch."""
    import shutil

    root = str(tmp_path / "stream_idx_reset")
    stream_build_index(
        spark, staged_input, root, SCHEMA, url_col="url",
        n_shards=8, n_buckets=8, max_files_per_trigger=1,
    )
    old_run = open(os.path.join(root, "v000002", "stream_run_id")).read()
    shutil.rmtree(os.path.join(root, "_stream_checkpoint"))

    stream_build_index(
        spark, staged_input, root, SCHEMA, url_col="url",
        n_shards=8, n_buckets=8, max_files_per_trigger=1,
    )
    cur = current_index_dir(root)
    assert os.path.basename(cur) == "v000002"
    # every version was REBUILT under the new incarnation's run id
    for v in ("v000000", "v000001", "v000002"):
        new_run = open(os.path.join(root, v, "stream_run_id")).read()
        assert new_run != old_run, f"{v} replay-published stale data"
    # and the rebuilt index still covers the full corpus
    assert FtsIndex.load(spark, cur).meta.n_docs == 300
