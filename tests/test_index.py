"""Index build + WAND/TAAT rank-identity vs naive scorer and oracles;
resume-from-checkpoint; lineage metrics.

The oracle-parity pattern is the reference's own
(/root/reference/docs/Search-Index-Evaluation.md:79-86: exhaustive engine
validates the fast engine), except ours must be rank-IDENTICAL, not
recall@k."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wise_spark.data.queries import reference_queries
from wise_spark.index import FtsIndex, IndexMeta, build_index
from wise_spark.oracle import PandasBM25Oracle

QUERIES = [q for _, q in reference_queries(vocab_size=2000, n=20)]


@pytest.fixture(scope="module")
def index(spark, corpus_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fts_index"))
    meta = build_index(
        corpus_sdf, d, url_col="url", n_shards=8, n_buckets=8, n_waves=3
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


def test_meta_load_ignores_legacy_n_salts(tmp_path):
    """A meta.json written while builds still stored the unused n_salts
    (e.g. a persisted entry index) loads into the same IndexMeta."""
    meta = IndexMeta(n_docs=3, avgdl=2.0, total_tokens=6, n_terms=4,
                     n_shards=2, n_buckets=2, extras={"with_positions": True})
    meta.save(str(tmp_path))
    path = tmp_path / "meta.json"
    legacy = json.loads(path.read_text())
    legacy["n_salts"] = 2
    path.write_text(json.dumps(legacy))
    assert IndexMeta.load(str(tmp_path)) == meta


@pytest.mark.parametrize("mode", ["all", "any"])
def test_kernel_empty_results_are_typed(mode):
    """Every shard kernel returns int64 doc_id / float64 score, also when it
    finds nothing: no shard rows, or ('all') terms that share no doc."""
    from wise_spark.index.codec import encode_postings
    from wise_spark.index.wand import score_shard_taat, score_shard_wand

    def row(term, ids):
        ids = np.asarray(ids, np.int64)
        return {"term": term, **encode_postings(
            ids, np.ones(ids.size, np.int32), np.full(ids.size, 3, np.int32), 3.0)}

    disjoint = pd.DataFrame([row("a", [1, 2]), row("b", [5, 6])])
    idfs = {"a": 1.0, "b": 1.0}
    typed = {"doc_id": np.dtype(np.int64), "score": np.dtype(np.float64)}
    for pdf in (disjoint.iloc[:0], disjoint):
        for out in (score_shard_taat(pdf, idfs, 3.0, 2, mode),
                    score_shard_wand(pdf, idfs, 3.0, 2, mode, 10)):
            assert out.dtypes.to_dict() == typed


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


def test_pinned_index_rank_identity_under_concurrent_batches(spark, index, oracle):
    """A cache=True index scores its driver pin: for every mode and method
    topk_many matches the pandas oracle and equals the uncached index's
    lists exactly. Request threads of a server share one pin, so 8
    threads (more than this box's cores) with a short switch interval run
    batches against it at once and each gets the serial answer."""
    import sys
    import threading

    pinned = FtsIndex.load(spark, index.index_dir, cache=True)
    assert pinned._pinned is not None and index._pinned is None
    k = 15
    batch = QUERIES + ["zzzabsent qqqmissing", ""]
    want = {}
    for mode in ("all", "any"):
        for method in ("wand", "taat"):
            got = pinned.topk_many(batch, k, mode=mode, method=method)
            assert got == index.topk_many(batch, k, mode=mode, method=method)
            for q in batch:
                _check(pd.DataFrame(got[q], columns=["doc_id", "score"],
                                    dtype=float),
                       oracle.score_all(q, mode), k, f"pinned {method}/{mode}: {q!r}")
            want[mode, method] = got

    errors, results = [], {}
    small = batch[:3] + batch[-2:]

    def worker(i):
        try:
            mode, method = list(want)[i % len(want)]
            for _ in range(3):
                results.setdefault(i, []).append(
                    (mode, method, pinned.topk_many(small, k, mode=mode, method=method)))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not errors and not any(t.is_alive() for t in threads)
    assert sorted(results) == list(range(8))
    for runs in results.values():
        assert len(runs) == 3
        assert all(got == {q: want[mode, method][q] for q in small}
                   for mode, method, got in runs)


def test_batch_shared_decode_changes_no_answer(spark, index, oracle):
    """A batch decodes each (term, shard) row once and hands the same
    decoded lists to every query that has the term. Queries overlapping in
    terms, a repeated query, an absent-term query and the empty query get,
    in one pinned batch, exactly (scores bitwise) the lists each gets alone
    and the lists of the uncached index's scan."""
    pinned = FtsIndex.load(spark, index.index_dir, cache=True)
    # the three most frequent terms with df < N/3 (idf floors at df > N/2),
    # so they co-occur and their scores are not all ~1e-6
    a, b, c = sorted((t for t in oracle.df if oracle.df[t] < oracle.n_docs / 3),
                     key=lambda t: (-oracle.df[t], t))[:3]
    batch = [f"{a} {b}", f"{b} {c}", f"{a} {b} {c}", f"{c} {a}", f"{a} {b}",
             "zzzabsent", ""]
    for mode in ("any", "all"):
        for method in ("wand", "taat"):
            for k in (1, 15, 1000):
                got = pinned.topk_many(batch, k, mode=mode, method=method)
                alone = {q: pinned.topk_many([q], k, mode=mode, method=method)[q]
                         for q in batch}
                assert got == alone, (mode, method, k)
                assert got == index.topk_many(batch, k, mode=mode, method=method), \
                    (mode, method, k)
                assert got[f"{a} {b}"], (mode, method, k)


def test_pinned_topk_many_builds_no_pandas_frame(spark, index, monkeypatch):
    """A pinned topk_many goes from the pin's Arrow slices to the per-query
    lists without pandas: with frame construction, sort_values, iterrows
    and concat raising, it returns the same lists."""
    pinned = FtsIndex.load(spark, index.index_dir, cache=True)
    batch = QUERIES + ["zzzabsent qqqmissing", ""]
    want = {mode: pinned.topk_many(batch, 15, mode=mode) for mode in ("any", "all")}

    def boom(*_a, **_k):
        raise AssertionError("pandas on the pinned topk_many path")

    for name in ("__init__", "sort_values", "iterrows"):
        monkeypatch.setattr(pd.DataFrame, name, boom)
    monkeypatch.setattr(pd, "concat", boom)
    for mode, lists in want.items():
        assert pinned.topk_many(batch, 15, mode=mode) == lists, mode


def test_pinned_rows_binary_search_equals_full_filter():
    """`_pinned_rows` cuts term / prefix slices out of the term-sorted pin
    by binary search; on a multi-chunk pin with prefix neighbours
    ("ab" < "ab\\x00z" < "abc" < "abé" < "ac") and non-ASCII terms it
    returns exactly the rows a full is_in / starts_with filter keeps,
    grouped by shard, each shard's records in the pin's (term) order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from wise_spark.index.reader import _pinned_rows

    vocab = ["a", "ab", "ab\x00z", "abc", "abcd", "abé", "ac", "b", "é", "éa", "z"]
    rows = pa.table({
        "term": [t for t in vocab for _ in range(3)],
        "shard": [s for _ in vocab for s in range(3)],
        "n": list(range(3 * len(vocab))),
    }).sort_by([("term", "ascending"), ("shard", "ascending")])
    pin = pa.Table.from_batches(rows.to_batches(max_chunksize=4))
    assert pin.column("term").num_chunks > 1
    term = pin.column("term")
    matches = [["ab"], ["abc", "a", "z"], ["é", "missing", "ab"], [], ["zz"],
               "ab", "a", "é", "abc", "abz", "", "zz"]
    for match in matches:
        hit = (pc.starts_with(term, match) if isinstance(match, str)
               else pc.is_in(term, value_set=pa.array(match, pa.string())))
        want = {}
        for r in pin.filter(hit).select(["term", "shard", "n"]).to_pylist():
            want.setdefault(r["shard"], []).append(r)
        assert _pinned_rows(pin, match, ["term", "shard", "n"]) == want, repr(match)


def test_local_topk_matches_full_sort():
    """`wand.local_topk` (partition at the k-th score, then lexsort only
    the pairs at or above it) returns exactly the head of a full (score
    desc, doc_id asc) sort, with ties straddling the k-th place and k = 0
    or beyond the row count."""
    from wise_spark.index.wand import local_topk

    rng = np.random.default_rng(7)
    for n in (0, 1, 5, 50, 500):
        out = pd.DataFrame({
            "doc_id": rng.permutation(10 * n + 1)[:n].astype(np.int64),
            "score": rng.integers(0, 4, n) / 3.0,
        })
        for k in (0, 1, 3, 10, n, n + 5):
            want = out.sort_values(["score", "doc_id"], ascending=[False, True],
                                   kind="mergesort").head(k).reset_index(drop=True)
            ids, score = local_topk(out["doc_id"].to_numpy(), out["score"].to_numpy(), k)
            pd.testing.assert_frame_equal(pd.DataFrame({"doc_id": ids, "score": score}),
                                          want, obj=f"n={n} k={k}")


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
            corpus_sdf, d, url_col="url", n_shards=8, n_buckets=8,
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
        corpus_sdf, d, url_col="url", n_shards=8, n_buckets=8, n_waves=3
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
    kw = dict(url_col="url", n_shards=8, n_buckets=8, n_waves=3)
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
    # same dir, positions now requested (a build always resumes)
    meta = build_index(corpus_sdf, d, url_col="url", n_shards=4, n_buckets=4,
                       n_waves=1, with_positions=True)
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
                     n_buckets=4, n_waves=1)
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


def _row_group_keys(table_dir: str, key: str) -> list[list]:
    """`key` values of every row group of a parquet table dir, files in name
    order (the order a range-partitioned write lays its ranges out in)."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(table_dir, "*.parquet"))):
        pf = pq.ParquetFile(f)
        out += [pf.read_row_group(g, columns=[key]).column(key).to_pylist()
                for g in range(pf.num_row_groups)]
    return out


def _table_rows(table_dir: str) -> list[dict]:
    import glob

    import pyarrow.parquet as pq

    return [r for f in sorted(glob.glob(os.path.join(table_dir, "*.parquet")))
            for r in pq.read_table(f).to_pylist()]


@pytest.mark.parametrize("url_col", ["url", None])
def test_spark_side_of_driver_guards_matches_driver_build(
    spark, corpus_sdf, tmp_path, monkeypatch, segment_rows, url_col
):
    """Every DRIVER_STATS_MAX_ROWS guard (corpus stats, Stage B's doc_map,
    Stage D's terms) has a Spark side that only corpora above the guard
    take. With the guard at 0 the build takes every Spark side, and its
    doc_map, terms, segments and meta.json equal the driver-side build's
    row for row. Small row-group and file sizes spread both layouts over
    several files and row groups: doc_id (and term) ranges are disjoint and
    ascending across them, and Spark reads doc_map with exactly
    doc_id, doclen[, url] — not the tokens schema its source files carry."""
    from wise_spark.index import build

    monkeypatch.setattr(build, "SORTED_ROW_GROUP_ROWS", 64)
    monkeypatch.setattr(build, "DOC_MAP_FILE_ROWS", 128)
    kw = dict(url_col=url_col, n_shards=4, n_buckets=8, n_waves=2)
    d_driver, d_spark = str(tmp_path / "driver"), str(tmp_path / "spark")
    build_index(corpus_sdf, d_driver, **kw)
    monkeypatch.setattr(build, "DRIVER_STATS_MAX_ROWS", 0)
    build_index(corpus_sdf, d_spark, **kw)

    cols = ["doc_id", "doclen"] + (["url"] if url_col else [])
    for d in (d_driver, d_spark):
        groups = _row_group_keys(os.path.join(d, "doc_map"), "doc_id")
        assert len(groups) >= 5 and max(map(len, groups)) <= 64, d
        ids = [i for g in groups for i in g]
        assert ids == sorted(set(ids)) and len(ids) == 300, d
        assert spark.read.parquet(os.path.join(d, "doc_map")).columns == cols
        terms = [t for g in _row_group_keys(os.path.join(d, "terms"), "term")
                 for t in g]
        assert terms == sorted(set(terms)), d
    for piece in ("doc_map", "terms"):
        assert _table_rows(os.path.join(d_spark, piece)) == \
            _table_rows(os.path.join(d_driver, piece)), piece
    assert segment_rows(d_spark) == segment_rows(d_driver)
    assert IndexMeta.load(d_spark) == IndexMeta.load(d_driver)


def test_doc_rows_edge_cases_and_unsorted_doc_map(spark, index, tmp_path,
                                                  monkeypatch):
    """doc_rows returns the doc_map rows Spark reads, for an empty id list,
    absent ids and duplicates. A hand-written doc_map in
    the layout of an index built before doc_map was sorted (every row group
    spans the whole doc_id range; one file without statistics), holding ids
    at both ends of int64, still hydrates exactly: the row-group interval
    test skips only row groups that cannot hold a wanted id. Concurrent
    first calls, as a server's request threads make, build the row-group
    directory once."""
    import sys
    import threading

    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from wise_spark.serve import spark_search_fn

    want = {r["doc_id"]: r.asDict() for r in index.doc_map().collect()}
    assert len(want) == 300
    assert index.doc_rows([]) == {}
    assert index.doc_rows([10**9, -1]) == {}
    assert index.doc_rows([3, 150, 299, 3, 10**9]) == \
        {i: want[i] for i in (3, 150, 299)}
    assert index.doc_rows(range(300)) == want
    for i in (0, 299):   # a lone id on a row group's min or max
        assert index.doc_rows([i]) == {i: want[i]}

    d = str(tmp_path / "unsorted_doc_map")
    shutil.copytree(index.index_dir, d)
    dm = os.path.join(d, "doc_map")
    shutil.rmtree(dm)
    os.makedirs(dm)
    extremes = [2**63 - 1, 2**63 - 2, -(2**63)]
    rows = {**want, **{i: {"doc_id": i, "doclen": 7, "url": f"x{i}"}
                       for i in extremes}}
    order = np.random.default_rng(0).permutation(list(rows))
    t = pa.Table.from_pylist(
        [rows[int(i)] for i in order],
        schema=pa.schema([("doc_id", pa.int64()), ("doclen", pa.int64()),
                          ("url", pa.string())]))
    pq.write_table(t.slice(0, 200), os.path.join(dm, "part-0.parquet"),
                   row_group_size=50)
    pq.write_table(t.slice(200), os.path.join(dm, "part-1.parquet"),
                   row_group_size=50, write_statistics=False)
    old = FtsIndex.load(spark, d)
    ids = extremes + [2**63 - 3, 0, 77, 299, 77]
    expect = {i: rows[i] for i in ids if i in rows}
    opened, real = [], pads.dataset
    monkeypatch.setattr(pads, "dataset",
                        lambda *a, **kw: opened.append(a) or real(*a, **kw))
    barrier, got = threading.Barrier(16), [None] * 16

    def first_call(n: int) -> None:
        barrier.wait(timeout=30)
        got[n] = old.doc_rows(ids)

    threads = [threading.Thread(target=first_call, args=(n,), daemon=True)
               for n in range(16)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert got == [expect] * 16
    assert len(opened) == 1
    for i in extremes:
        assert old.doc_rows([i]) == {i: rows[i]}
    assert old.doc_rows(rows) == rows
    q = QUERIES[0]
    assert spark_search_fn(old)(q, 0, 10) == spark_search_fn(index)(q, 0, 10)


def test_terms_driver_side_writer(tmp_path):
    """Stage D fast path (no Spark): aggregates (term, n, max_tfc) from the
    segments parquet into sorted range files with df summed across shards,
    identical content to the Spark groupBy path; empty segments produce an
    empty typed table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wise_spark.index.build import _write_terms

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
    # the driver-side path needs no session
    _write_terms(None, str(tmp_path / "segments"), str(out), n_files=2)
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
    _write_terms(None, str(empty_dir), str(out2), n_files=4)
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
        "from wise_spark.index.build import _write_terms\n"
        "d = tempfile.mkdtemp(); o = tempfile.mkdtemp()\n"
        "t = pa.table({'term': ['a'], 'n': [1], 'max_tfc': [1.0]})\n"
        "pq.write_table(t, os.path.join(d, 'p.parquet'))\n"
        "_write_terms(None, d, os.path.join(o, 'terms'), n_files=1)\n"
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
