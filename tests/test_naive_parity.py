"""Rank-identity: naive Spark scorer == pandas oracle == real SQLite FTS5.

The reference validates fast engines against an exhaustive oracle
(/root/reference/docs/Search-Index-Evaluation.md:79-86); here the chain is
  SQLite FTS5 (the actual reference ranking function)
    == PandasBM25Oracle == naive Spark DataFrame scorer,
rank-identical in docIDs, scores to 1e-9, ties broken ascending doc_id.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from wise_spark.data.queries import reference_queries
from wise_spark.oracle import Fts5Oracle, PandasBM25Oracle, fts5_available
from wise_spark.query.naive import TokenizedCorpus, naive_topk

QUERIES = [q for _, q in reference_queries(vocab_size=2000, n=24)]


def assert_rank_identical(got, want, k, msg=""):
    """got/want: pandas (doc_id, score) sorted (score desc, doc_id asc)."""
    got = got.reset_index(drop=True)
    want = want.head(k).reset_index(drop=True)
    assert len(got) == len(want), f"{msg}: row count {len(got)} != {len(want)}"
    assert got["doc_id"].tolist() == want["doc_id"].tolist(), msg
    np.testing.assert_allclose(got["score"], want["score"], rtol=0, atol=1e-9, err_msg=msg)


@pytest.fixture(scope="module")
def oracles(corpus_pdf):
    pd_oracle = PandasBM25Oracle(corpus_pdf)
    fts = Fts5Oracle(corpus_pdf) if fts5_available() else None
    return pd_oracle, fts


@pytest.fixture(scope="module")
def corpus(corpus_sdf):
    return TokenizedCorpus.build(corpus_sdf, cache=True)


@pytest.fixture(scope="module")
def edge(spark, corpus_pdf):
    """The fixture corpus plus hostile documents: an empty text, a None
    text, a punctuation-only text (all three doclen 0, still counted in N)
    and a doc_id near 2^63 whose text ties doc 0's (tie-break by doc_id)."""
    import pandas as pd

    extra = pd.DataFrame({
        "doc_id": [300, 301, 302, 2**63 - 2],
        "text": ["", None, " ...,;!? -- ", corpus_pdf["text"].iloc[0]],
    })
    pdf = pd.concat([corpus_pdf[["doc_id", "text"]], extra], ignore_index=True)
    c = TokenizedCorpus.build(
        spark.createDataFrame(pdf, "doc_id long, text string"), cache=True)
    yield c, PandasBM25Oracle(pdf)
    c.unpersist()


def test_fts5_is_available():
    # the whole rank-identity story leans on this; fail loudly if absent
    assert fts5_available()


@pytest.mark.parametrize("mode", ["all", "any"])
def test_pandas_oracle_vs_fts5(oracles, corpus_pdf, mode):
    pd_oracle, fts = oracles
    if fts is None:
        pytest.skip("no fts5")
    # FTS5 parity is claimed for ASCII only: unicode61 strips diacritics and
    # keeps ß, our analyzer NFKC-casefolds (ß -> ss). Unicode behavior is
    # covered by the pandas oracle tests instead.
    for q in (q for q in QUERIES if q.isascii()):
        mine = pd_oracle.score_all(q, mode)
        ref = fts.score_all(q, mode)
        assert mine["doc_id"].sort_values().tolist() == ref["doc_id"].sort_values().tolist(), q
        m = mine.set_index("doc_id")["score"]
        r = ref.set_index("doc_id")["score"]
        np.testing.assert_allclose(m.sort_index(), r.sort_index(), atol=1e-9, err_msg=q)


@pytest.mark.parametrize("mode", ["all", "any"])
def test_naive_spark_vs_pandas_oracle(corpus, oracles, edge, mode):
    k = 25
    for name, (c, pd_oracle) in {"fixture": (corpus, oracles[0]),
                                 "edge": edge}.items():
        assert c.n_docs == pd_oracle.n_docs, name
        assert abs(c.avgdl - pd_oracle.avgdl) <= 1e-12, name
        for q in QUERIES:
            got = naive_topk(c, q, k=k, mode=mode).toPandas()
            want = pd_oracle.score_all(q, mode)
            assert_rank_identical(got, want, k, msg=f"{name}:{mode}:{q}")


@pytest.mark.parametrize("cache", [True, False])
def test_corpus_build_runs_one_spark_job(spark, corpus_sdf, cache):
    """TokenizedCorpus.build tokenizes, fills the cache (cache=True) and
    observes exact N/avgdl in ONE Spark job — no separate stats action."""
    sc = spark.sparkContext
    group = f"naive-corpus-build-{cache}"
    sc.setJobGroup(group, "TokenizedCorpus.build")
    try:
        c = TokenizedCorpus.build(corpus_sdf, cache=cache)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()   # job events are async
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    c.unpersist()
    assert len(jobs) == 1, sorted(jobs)
    assert c.n_docs == 300


def test_empty_and_absent_queries(corpus):
    assert naive_topk(corpus, "zzzmissingterm", k=5).count() == 0
    assert naive_topk(corpus, "  ...  ", k=5).count() == 0
    # 'all' mode with one absent term -> empty; 'any' -> nonempty
    from wise_spark.data.corpus import vocab

    w = vocab(2000).words[15]
    assert naive_topk(corpus, f"{w} zzzmissingterm", k=5, mode="all").count() == 0
    assert naive_topk(corpus, f"{w} zzzmissingterm", k=5, mode="any").count() > 0


def test_tie_break_ascending_doc_id(corpus, oracles):
    """Tie docs (identical multisets) must order by ascending doc_id."""
    pd_oracle, _ = oracles
    from wise_spark.data.corpus import doc_tokens

    tie_terms = sorted(set(doc_tokens(100, 42, 2000)))[:1]
    q = tie_terms[0]
    got = naive_topk(corpus, q, k=300, mode="any").toPandas()
    dup = got[got.duplicated("score", keep=False)]
    if len(dup):
        for _, grp in dup.groupby("score"):
            assert grp["doc_id"].is_monotonic_increasing


@pytest.mark.parametrize("mode", ["any", "all"])
def test_batch_score_queries_identical_to_per_query(corpus, mode):
    """score_queries (one pass for Q queries) must be value-identical to Q
    independent score_query plans — same df stats, same deterministic fold."""
    from wise_spark.query.naive import score_query, score_queries

    queries = [(i, text) for i, (_, text) in enumerate(reference_queries()[:4])]
    batch = (
        score_queries(corpus, queries, mode)
        .toPandas()
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    for qid, q in queries:
        single = (
            score_query(corpus, q, mode)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        got = batch[batch["query_id"] == qid].reset_index(drop=True)
        assert got["doc_id"].tolist() == single["doc_id"].tolist(), (qid, q)
        np.testing.assert_array_equal(
            got["score"].to_numpy(), single["score"].to_numpy(), err_msg=str((qid, q))
        )


@pytest.mark.parametrize("mode", ["any", "all"])
def test_batch_scorer_random_sweep_vs_fts5(corpus, oracles, mode):
    """100 seeded random queries (1-4 head/tail terms, every 7th salted
    with an absent term), scored by the BATCH Spark scorer in ONE pass,
    value-identical to the real SQLite FTS5 engine per query — breadth the
    fixed reference-query set can't give."""
    _, fts = oracles
    if fts is None:
        pytest.skip("no fts5")
    from wise_spark.data.corpus import vocab
    from wise_spark.query.naive import score_queries

    rng = np.random.default_rng(7)
    words = [w for w in vocab(2000).words if w.isascii()]
    queries = []
    for i in range(100):
        terms = list(rng.choice(words, size=int(rng.integers(1, 5)), replace=False))
        if i % 7 == 0:
            terms.append("zzzabsent")
        queries.append((i, " ".join(terms)))

    batch = score_queries(corpus, queries, mode).toPandas()
    for qid, q in queries:
        ref = fts.score_all(q, mode)
        got = batch[batch["query_id"] == qid].sort_values("doc_id")
        assert got["doc_id"].tolist() == ref["doc_id"].sort_values().tolist(), (qid, q)
        np.testing.assert_allclose(
            got.set_index("doc_id")["score"].sort_index(),
            ref.set_index("doc_id")["score"].sort_index(),
            atol=1e-9,
            err_msg=f"{mode}:{q}",
        )


def test_batch_score_queries_rejects_duplicate_ids(corpus):
    """A repeated query_id would double-count shared terms and corrupt the
    all-mode term-hit threshold — must fail loudly, not silently."""
    from wise_spark.query.naive import score_queries

    with pytest.raises(ValueError, match="duplicate query_id"):
        score_queries(corpus, [(0, "spark join"), (0, "spark merge")])


def test_ranked_per_matches_ranked_convention(corpus):
    """ranked_per (multi-query rank owner) must agree with ranked() on a
    single-query relation — same 0-based rank, same tie-break."""
    from wise_spark.query.naive import score_query
    from wise_spark.query.search import ranked, ranked_per

    scored = score_query(corpus, reference_queries()[0][1], "any")
    single = ranked(scored, k=20).select("doc_id", "rank").toPandas()
    multi = (
        ranked_per(scored.withColumn("query_id", F.lit(0)), k=20)
        .select("doc_id", "rank")
        .toPandas()
    )
    single = single.sort_values("rank").reset_index(drop=True)
    multi = multi.sort_values("rank").reset_index(drop=True)
    assert single["doc_id"].tolist() == multi["doc_id"].tolist()
    assert single["rank"].tolist() == multi["rank"].tolist()
