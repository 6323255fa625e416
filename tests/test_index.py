"""Index build + WAND/TAAT rank-identity vs naive scorer and oracles;
resume-from-checkpoint; lineage metrics.

The oracle-parity pattern is the reference's own
(/root/reference/docs/Search-Index-Evaluation.md:79-86: exhaustive engine
validates the fast engine), except ours must be rank-IDENTICAL, not
recall@k."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wise_spark.data.queries import reference_queries
from wise_spark.index import FtsIndex, build_index
from wise_spark.oracle import PandasBM25Oracle

QUERIES = [q for _, q in reference_queries(vocab_size=2000, n=20)]


@pytest.fixture(scope="module")
def index(spark, corpus_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fts_index"))
    meta = build_index(
        corpus_sdf, d, url_col="url", n_shards=8, n_buckets=8, n_salts=3, n_waves=3
    )
    return FtsIndex(spark, d, meta)


@pytest.fixture(scope="module")
def oracle(corpus_pdf):
    return PandasBM25Oracle(corpus_pdf)


def _check(got_pdf, want_pdf, k, msg):
    got = got_pdf.reset_index(drop=True)
    want = want_pdf.head(k).reset_index(drop=True)
    assert got["doc_id"].tolist() == want["doc_id"].tolist(), msg
    np.testing.assert_allclose(got["score"], want["score"], atol=1e-9, err_msg=msg)


def test_meta_exact_stats(index, oracle):
    assert index.meta.n_docs == oracle.n_docs
    assert abs(index.meta.avgdl - oracle.avgdl) < 1e-9
    assert index.meta.n_terms == len(oracle.df)
    # exact df for a few terms
    terms = list(oracle.df)[:25]
    got = index.term_stats(terms)
    for t in terms:
        assert got[t] == oracle.df[t], t


@pytest.mark.parametrize("mode", ["all", "any"])
@pytest.mark.parametrize("method", ["wand", "taat"])
def test_topk_rank_identity(index, oracle, mode, method):
    """topk matches the pandas oracle, and topk_many, scoring the whole
    batch in one job, gives every query exactly its topk list (doc_ids and
    scores, in order) — including a query of absent terms, a duplicated
    query and the empty query."""
    k = 15
    batch = QUERIES + ["zzzabsent qqqmissing", QUERIES[0], ""]
    many = index.topk_many(batch, k, mode=mode, method=method)
    assert list(many) == list(dict.fromkeys(batch))
    for q in batch:
        got = index.topk(q, k=k, mode=mode, method=method).toPandas()
        want = oracle.score_all(q, mode)
        _check(got, want, k, f"{method}/{mode}: {q!r}")
        assert many[q] == list(zip(got["doc_id"].tolist(), got["score"].tolist())), \
            f"topk_many {method}/{mode}: {q!r}"
    assert many["zzzabsent qqqmissing"] == [] and many[""] == []


@pytest.mark.parametrize("mode", ["all", "any"])
def test_wand_random_sweep_rank_identity(index, oracle, mode):
    """30 seeded random queries (1-4 terms, some salted with an absent
    term) through the block-max WAND path — rank-identical to the exact
    oracle beyond the fixed reference-query set."""
    from wise_spark.data.corpus import vocab

    rng = np.random.default_rng(11)
    words = vocab(2000).words
    k = 12
    for i in range(30):
        terms = list(rng.choice(words, size=int(rng.integers(1, 5)), replace=False))
        if i % 6 == 0:
            terms.append("zzzabsent")
        q = " ".join(terms)
        got = index.topk(q, k=k, mode=mode, method="wand").toPandas()
        want = oracle.score_all(q, mode)
        _check(got, want, k, f"wand/{mode}: {q}")


def test_wand_pruning_still_exact_low_cutoff(index, oracle, monkeypatch):
    """Force the real WAND loop (not the TAAT fallback) and re-check."""
    import wise_spark.index.wand as w

    monkeypatch.setattr(w, "TAAT_CUTOFF", 0)
    for q in QUERIES[:10]:
        got = index.topk(q, k=10, mode="any", method="wand").toPandas()
        want = oracle.score_all(q, "any")
        _check(got, want, 10, f"forced-wand: {q}")


def test_score_all_matches_oracle(index, oracle):
    q = QUERIES[3]
    got = (
        index.score_all(q, "any")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = oracle.score_all(q, "any").sort_values("doc_id").reset_index(drop=True)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_allclose(got["score"], want["score"], atol=1e-9)


def test_lineage_metrics(index):
    lin = index.lineage().toPandas()
    assert set(lin["stage"]) >= {"tokens", "doc_map", "segments", "terms"}
    seg = lin[lin["stage"] == "segments"]
    assert len(seg) == 3  # n_waves
    assert (seg["status"] == "done").all()
    assert seg["rows"].sum() > 0 and seg["bytes"].sum() > 0
    # total postings across waves == sum of df over all terms
    terms = index._terms.toPandas()
    assert seg["rows"].sum() == terms["df"].sum()


def test_resume_skips_completed_and_is_identical(spark, corpus_sdf, tmp_path, index):
    """Kill after wave 1 of 3 -> rerun with resume -> identical index content."""
    d = str(tmp_path / "idx_resume")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            corpus_sdf, d, url_col="url", n_shards=8, n_buckets=8, n_salts=3,
            n_waves=3, fail_after_waves=1,
        )
    # resume: completes the remaining waves without redoing wave-0
    import os
    import time

    seg_dir = os.path.join(d, "segments")
    before = {
        p: os.path.getmtime(os.path.join(dp, p))
        for dp, _, fs in os.walk(seg_dir)
        for p in fs
        if p.endswith(".parquet")
    }
    time.sleep(1.1)
    meta2 = build_index(
        corpus_sdf, d, url_col="url", n_shards=8, n_buckets=8, n_salts=3, n_waves=3
    )
    after = {
        p: os.path.getmtime(os.path.join(dp, p))
        for dp, _, fs in os.walk(seg_dir)
        for p in fs
        if p.endswith(".parquet")
    }
    for f, t in before.items():
        assert after[f] == t, f"wave-0 file {f} was rewritten on resume"

    # logical identity with the cleanly-built module index
    idx2 = FtsIndex(spark, d, meta2)
    a = index._segments.select("term", "shard", "n", "docids", "tfs", "doclens").toPandas()
    b = idx2._segments.select("term", "shard", "n", "docids", "tfs", "doclens").toPandas()
    key = ["term", "shard"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_resume_after_crash_between_publish_and_lineage(
    spark, corpus_sdf, tmp_path, index, monkeypatch
):
    """Kill after wave 0's atomic publish but before its lineage row -> the
    resumed build redoes wave 0 exactly once: identical segments, no staging
    debris, one `done` row per wave."""
    import wise_spark.index.build as build_mod

    real_append = build_mod._append_lineage

    def crash_on_first_segments_row(spark_, index_dir, rows):
        if any(r[0] == "segments" for r in rows):
            raise RuntimeError("killed between publish and lineage")
        real_append(spark_, index_dir, rows)

    d = str(tmp_path / "idx_publish_crash")
    kw = dict(url_col="url", n_shards=8, n_buckets=8, n_salts=3, n_waves=3)
    monkeypatch.setattr(build_mod, "_append_lineage", crash_on_first_segments_row)
    with pytest.raises(RuntimeError, match="between publish and lineage"):
        build_index(corpus_sdf, d, **kw)
    assert os.path.isdir(os.path.join(d, "segments", "wave=0"))
    monkeypatch.setattr(build_mod, "_append_lineage", real_append)

    meta2 = build_index(corpus_sdf, d, **kw)
    assert not [p for p in os.listdir(d) if p.startswith("_wave_stage_")]
    idx2 = FtsIndex(spark, d, meta2)
    lin = idx2.lineage().toPandas()
    seg = lin[(lin["stage"] == "segments") & (lin["status"] == "done")]
    assert sorted(seg["unit"]) == ["wave-0", "wave-1", "wave-2"]

    cols = ["term", "shard", "n", "docids", "tfs", "doclens"]
    key = ["term", "shard"]
    a = index._segments.select(*cols).toPandas().sort_values(key).reset_index(drop=True)
    b = idx2._segments.select(*cols).toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_resume_rebuilds_on_param_change(spark, corpus_sdf, tmp_path):
    """Resuming over a checkpoint built with DIFFERENT params must rebuild,
    not skip: a complete positions-free index resumed with
    with_positions=True used to skip every stage yet rewrite meta.json
    claiming positions — phrase queries then crashed on the null column."""
    d = str(tmp_path / "idx_params")
    build_index(corpus_sdf, d, url_col="url", n_shards=4, n_buckets=4,
                n_waves=1, with_positions=False)
    # same dir, positions now requested, resume on (the default)
    meta = build_index(corpus_sdf, d, url_col="url", n_shards=4, n_buckets=4,
                       n_waves=1, with_positions=True, resume=True)
    idx = FtsIndex(spark, d, meta)
    # the rebuilt index actually carries positions: phrase search works and
    # agrees with a fresh positional build
    d2 = str(tmp_path / "idx_fresh_pos")
    meta2 = build_index(corpus_sdf, d2, url_col="url", n_shards=4,
                        n_buckets=4, n_waves=1, with_positions=True)
    idx2 = FtsIndex(spark, d2, meta2)
    q = "nababa pebaba"
    a = idx.phrase_topk(q, k=10).toPandas()
    b = idx2.phrase_topk(q, k=10).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    np.testing.assert_allclose(a["score"], b["score"], atol=0)


def test_param_change_wipe_removes_stale_meta(spark, corpus_sdf, tmp_path):
    """The layout-guard wipe must remove meta.json too: meta.json is the
    build-complete marker, so a rebuild that crashes mid-stage must NOT
    leave the OLD marker making FtsIndex.load (and the streaming publisher)
    treat the half-rebuilt dir as a complete index with stale stats."""
    import os

    d = str(tmp_path / "idx_stale_meta")
    build_index(corpus_sdf, d, url_col="url", n_shards=4, n_buckets=4, n_waves=1)
    assert os.path.exists(os.path.join(d, "meta.json"))
    # param change triggers the wipe; injected failure = crash mid-rebuild
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(corpus_sdf, d, url_col="url", n_shards=4, n_buckets=4,
                    n_waves=2, fail_after_waves=0)
    assert not os.path.exists(os.path.join(d, "meta.json")), (
        "stale build-complete marker survived the layout wipe"
    )


def test_resume_rebuilds_on_column_binding_change(spark, corpus_sdf, tmp_path):
    """Column bindings are part of the checkpoint identity: a tokens
    checkpoint baked from one text column resumed with another must rebuild
    — the old guard silently reused the wrong column's tokens."""
    d = str(tmp_path / "idx_cols")
    m1 = build_index(corpus_sdf, d, url_col="url", n_shards=4, n_buckets=4,
                     n_waves=1)
    docs2 = corpus_sdf.withColumn("brief", F.substring("text", 1, 30))
    m2 = build_index(docs2, d, url_col="url", text_col="brief", n_shards=4,
                     n_buckets=4, n_waves=1, resume=True)
    assert m2.total_tokens < m1.total_tokens, (
        "resume reused tokens baked from the OLD text column"
    )


def test_torn_layout_marker_rebuilds_not_bricks(spark, corpus_sdf, tmp_path):
    """A truncated layout.json (crash mid-write on older versions) must be
    treated as 'no marker' — rebuild — not raise JSONDecodeError forever."""
    import os

    d = str(tmp_path / "idx_torn")
    build_index(corpus_sdf, d, url_col="url", n_shards=4, n_buckets=4, n_waves=1)
    with open(os.path.join(d, "layout.json"), "w") as f:
        f.write('{"layout": 3, "par')  # torn mid-write
    meta = build_index(corpus_sdf, d, url_col="url", n_shards=4, n_buckets=4,
                       n_waves=1)
    idx = FtsIndex(spark, d, meta)
    assert idx.topk(QUERIES[0], k=5, mode="any").count() > 0


def test_load_rejects_foreign_bm25_params(spark, corpus_sdf, tmp_path):
    """meta.k1/b are validated against the engine constants — an index
    claiming different BM25 parameters must refuse to load rather than
    silently score with the defaults."""
    import json as _json
    import os

    d = str(tmp_path / "idx_k1b")
    build_index(corpus_sdf, d, url_col="url", n_shards=4, n_buckets=4, n_waves=1)
    mp = os.path.join(d, "meta.json")
    with open(mp) as f:
        m = _json.load(f)
    m["k1"] = 2.0
    with open(mp, "w") as f:
        _json.dump(m, f)
    with pytest.raises(ValueError, match="k1"):
        FtsIndex.load(spark, d)


def test_hydrate_joins_back_urls(index):
    res = index.topk(QUERIES[0], k=5, mode="any")
    hyd = index.hydrate(res).toPandas()
    assert len(hyd) == res.count()
    assert hyd["url"].notna().all()


def test_hydrate_pushes_isin_into_doc_map_scan(index):
    """hydrate must prune the doc_map scan with doc_id IN (hit ids) — at
    10^12 docs an unpruned hydrate is a full doc_map pass per query. Assert
    the pushed filter is visible in the physical plan AND values survive."""
    res = index.topk(QUERIES[0], k=5, mode="any")
    hyd = index.hydrate(res)
    plan = hyd._jdf.queryExecution().executedPlan().toString()
    assert "In(doc_id" in plan or "doc_id IN" in plan, plan[:3000]
    got = hyd.toPandas()
    want = {r["doc_id"]: r["score"] for r in res.collect()}
    assert {int(r.doc_id): r.score for r in got.itertuples()} == want
    assert got["url"].notna().all()


def test_terms_driver_side_writer(tmp_path):
    """Stage D fast path (no Spark): aggregates (term, n, max_tfc) from the
    segments parquet into sorted range files with df summed across shards,
    identical content to the Spark groupBy path; empty segments produce an
    empty typed table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wise_spark.index.build import _write_terms_driver_side

    seg_dir = tmp_path / "segments" / "wave=0"
    seg_dir.mkdir(parents=True)
    t = pa.table({
        "term": ["b", "a", "b", "c"],
        "shard": pa.array([0, 1, 1, 0], pa.int32()),
        "n": pa.array([3, 5, 2, 1], pa.int64()),
        "max_tfc": pa.array([1.5, 2.0, 4.5, 0.5], pa.float64()),
    })
    pq.write_table(t, seg_dir / "part-0.parquet")
    out = tmp_path / "terms"
    _write_terms_driver_side(str(tmp_path / "segments"), str(out), n_files=2)
    assert (out / "_SUCCESS").exists()
    files = sorted(out.glob("*.parquet"))
    assert len(files) == 2  # 3 terms sliced into 2 range files
    got = pa.concat_tables([pq.read_table(f) for f in files])
    assert got.column_names == ["term", "df", "max_tfc"]
    assert got.schema.field("df").type == pa.int64()
    assert got.column("term").to_pylist() == ["a", "b", "c"]
    assert got.column("df").to_pylist() == [5, 5, 1]
    assert got.column("max_tfc").to_pylist() == [2.0, 4.5, 0.5]
    # range files: min/max of term do not overlap across files (pruning)
    maxes = [pq.read_table(f).column("term").to_pylist() for f in files]
    assert max(maxes[0]) <= min(maxes[1])

    # empty segments -> one empty, correctly-typed file
    empty_dir = tmp_path / "segments_empty"
    empty_dir.mkdir()
    pq.write_table(t.slice(0, 0), empty_dir / "part-0.parquet")
    out2 = tmp_path / "terms_empty"
    _write_terms_driver_side(str(empty_dir), str(out2), n_files=4)
    got2 = pq.read_table(sorted(out2.glob("*.parquet"))[0])
    assert got2.num_rows == 0
    assert got2.column_names == ["term", "df", "max_tfc"]


def test_arrow_pool_bounded_to_affinity():
    """A driver pinned to a CPU subset must not run pyarrow's host-sized
    thread pool timesliced over it (measured: ~12 CPU-s of pool churn for
    ~1 CPU-s of compute on the 1M-doc terms aggregation, walls 0.7-2.35s
    instead of ~0.2s). Subprocess: pin to 2 CPUs, touch the driver-side
    terms path, assert the pool was capped."""
    import subprocess
    import sys

    code = (
        "import os, pyarrow as pa, pyarrow.parquet as pq, tempfile\n"
        "from wise_spark.index.build import _write_terms_driver_side\n"
        "d = tempfile.mkdtemp(); o = tempfile.mkdtemp()\n"
        "t = pa.table({'term': ['a'], 'n': [1], 'max_tfc': [1.0]})\n"
        "pq.write_table(t, os.path.join(d, 'p.parquet'))\n"
        "_write_terms_driver_side(d, os.path.join(o, 'terms'), n_files=1)\n"
        "assert pa.cpu_count() == 2, pa.cpu_count()\n"
        "assert pa.io_thread_count() == 2, pa.io_thread_count()\n"
        "print('BOUND-OK')\n"
    )
    p = subprocess.run(
        ["taskset", "-c", "0,1", sys.executable, "-c", code],
        capture_output=True, text=True, timeout=120,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert p.returncode == 0 and "BOUND-OK" in p.stdout, p.stderr[-2000:]
