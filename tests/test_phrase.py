"""Phrase queries over positional postings: FTS5 rank-identity + brute force.

Reference behavior: quoted phrases are passed straight into FTS5 MATCH
(/root/reference/src/index/sqlite_search_index.py:110-113), whose bm25()
treats the phrase as one unit — tf = occurrence count, df = matching rows.
"""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from wise_spark.analyzer import tokenize_text
from wise_spark.data import corpus_df
from wise_spark.index import FtsIndex, build_index
from wise_spark.index.reader import MATCH_SCHEMA
from wise_spark.oracle.fts5 import Fts5Oracle, fts5_available


@pytest.fixture(scope="module")
def pos_index(spark):
    docs = corpus_df(spark, 400, vocab_size=60, partitions=4).select(
        F.monotonically_increasing_id().alias("mono"), "text"
    )
    from pyspark.sql import Window

    docs = docs.withColumn(
        "doc_id", F.row_number().over(Window.orderBy("text", "mono")) - 1
    ).select("doc_id", "text")
    d = tempfile.mkdtemp(prefix="wise_pos_idx_")
    build_index(docs, d, n_shards=4, n_buckets=4, n_waves=2, with_positions=True)
    idx = FtsIndex.load(spark, d)
    pdf = docs.toPandas()
    yield idx, pdf
    shutil.rmtree(d, ignore_errors=True)


def _brute_phrase(pdf, phrase):
    """(doc_id -> occurrence count) by scanning token lists in python."""
    seq = tokenize_text(phrase)
    out = {}
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        toks = tokenize_text(text)
        n = sum(
            1
            for i in range(len(toks) - len(seq) + 1)
            if toks[i : i + len(seq)] == seq
        )
        if n:
            out[int(doc_id)] = n
    return out


def _pick_phrase(pdf, length=2, min_docs=3):
    """Deterministically pick a phrase that occurs in >= min_docs docs."""
    from collections import Counter

    c = Counter()
    for text in pdf["text"]:
        toks = tokenize_text(text)
        seen = set()
        for i in range(len(toks) - length + 1):
            seen.add(" ".join(toks[i : i + length]))
        c.update(seen)
    for phrase, n in sorted(c.items(), key=lambda kv: (-kv[1], kv[0])):
        if n >= min_docs:
            return phrase
    raise AssertionError("no common phrase in corpus")


def test_phrase_matches_equal_brute_force(pos_index):
    idx, pdf = pos_index
    phrase = _pick_phrase(pdf)
    want = _brute_phrase(pdf, phrase)
    got = {
        int(r["doc_id"]): int(r["tf"])
        for r in idx.phrase_matches(phrase).collect()
    }
    assert got == want


def test_phrase_topk_rank_identical_to_fts5(pos_index):
    if not fts5_available():
        pytest.skip("no FTS5 in this sqlite build")
    idx, pdf = pos_index
    for phrase in [_pick_phrase(pdf, 2), _pick_phrase(pdf, 3, min_docs=2)]:
        ours = idx.phrase_topk(phrase, k=10).collect()
        ref = Fts5Oracle(pdf).phrase_topk(phrase, k=10)
        assert [r["doc_id"] for r in ours] == ref["doc_id"].tolist(), phrase
        assert np.allclose(
            [r["score"] for r in ours], ref["score"].to_numpy(), atol=1e-9
        ), phrase


def test_phrase_requires_positions(spark):
    docs = corpus_df(spark, 50, vocab_size=30, partitions=2).select(
        F.monotonically_increasing_id().alias("doc_id"), "text"
    )
    d = tempfile.mkdtemp(prefix="wise_nopos_idx_")
    try:
        build_index(docs, d, n_shards=2, n_buckets=2, n_waves=1)
        idx = FtsIndex.load(spark, d)
        with pytest.raises(ValueError, match="positions"):
            idx.phrase_matches("anything here")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_single_term_phrase(pos_index):
    idx, pdf = pos_index
    term = tokenize_text(pdf["text"].iloc[0])[0]
    got = {int(r["doc_id"]): int(r["tf"]) for r in idx.phrase_matches(term).collect()}
    want = _brute_phrase(pdf, term)
    assert got == want


def test_phrase_prune_identical_to_full_decode(pos_index):
    """The candidate-bounded two-stage path (prune=True, default) must
    return the exact (doc_id, tf, doclen) set of the single-stage
    full-position-decode path, including phrases with repeated terms and
    phrases with zero matches."""
    idx, pdf = pos_index
    phrases = [
        _pick_phrase(pdf, length=2),
        _pick_phrase(pdf, length=3),
        "zzznope never occurs",
    ]
    # a repeated-term phrase from real data if one exists, else synthetic
    for _, text in zip(pdf["doc_id"], pdf["text"]):
        toks = tokenize_text(text)
        for i in range(len(toks) - 2):
            if toks[i] == toks[i + 2]:
                phrases.append(" ".join(toks[i:i + 3]))
                break
        if len(phrases) > 3:
            break
    for ph in phrases:
        a = sorted(map(tuple, idx.phrase_matches(ph, prune=True).collect()))
        b = sorted(map(tuple, idx.phrase_matches(ph, prune=False).collect()))
        assert a == b, ph


def test_prefix_topk_rank_identical_to_fts5(pos_index):
    """'tok*' prefix queries: rank- and score-identical to FTS5's own
    prefix MATCH (the reference forwards raw FTS5 syntax, so this is part
    of its user-facing surface)."""
    if not fts5_available():
        pytest.skip("no FTS5 in this sqlite build")
    idx, pdf = pos_index
    # pick prefixes that match >= 2 distinct vocab terms, plus a no-match
    from collections import Counter

    vocab = Counter(t for text in pdf["text"] for t in tokenize_text(text))
    by_prefix = Counter(t[:2] for t in vocab)
    prefixes = [p for p, c in by_prefix.most_common(3) if c >= 2]
    assert prefixes, "fixture vocab has no shared 2-char prefixes"
    for p in prefixes + ["zzz"]:
        ours = idx.prefix_topk(p, k=10).collect()
        ref = Fts5Oracle(pdf).prefix_topk(p, k=10)
        assert [r["doc_id"] for r in ours] == ref["doc_id"].tolist(), p
        assert np.allclose(
            [r["score"] for r in ours], ref["score"].to_numpy(), atol=1e-9
        ), p


def test_prefix_matches_brute_force(pos_index):
    idx, pdf = pos_index
    prefix = tokenize_text(pdf["text"].iloc[0])[0][:3]
    want = {}
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        n = sum(1 for t in tokenize_text(text) if t.startswith(prefix))
        if n:
            want[int(doc_id)] = n
    got = {int(r["doc_id"]): int(r["tf"])
           for r in idx.prefix_matches(prefix).collect()}
    assert got == want
    with pytest.raises(ValueError, match="one token"):
        idx.prefix_matches("two words*")


def test_near_topk_rank_identical_to_fts5(pos_index):
    """NEAR(a b, N): matching docs, ranks, AND scores identical to FTS5
    across tight/loose windows, reversed-order occurrences, phrase
    operands, and a no-match pair."""
    if not fts5_available():
        pytest.skip("no FTS5 in this sqlite build")
    idx, pdf = pos_index
    from collections import Counter

    vocab = Counter(t for text in pdf["text"] for t in tokenize_text(text))
    common = [t for t, _ in vocab.most_common(6)]
    ph = _pick_phrase(pdf, 2)
    cases = [
        (common[0], common[1], 0),
        (common[0], common[1], 2),
        (common[2], common[3], 10),
        (common[4], common[5], 1),
        (ph, common[0], 3),            # phrase operand
        (common[0], "zzznope", 5),     # one side never matches
    ]
    ora = Fts5Oracle(pdf)
    for a, b, n in cases:
        ours = idx.near_topk(a, b, n=n, k=15).collect()
        ref = ora.near_topk(a, b, n=n, k=15)
        assert [r["doc_id"] for r in ours] == ref["doc_id"].tolist(), (a, b, n)
        assert np.allclose(
            [r["score"] for r in ours], ref["score"].to_numpy(), atol=1e-9
        ), (a, b, n)


def test_near_fuzz_rank_identical_to_fts5(pos_index):
    """Seeded sweep: random vocab pairs (terms AND 2-token phrases) x
    random N — every case rank- and score-identical to FTS5's NEAR."""
    if not fts5_available():
        pytest.skip("no FTS5 in this sqlite build")
    import random

    idx, pdf = pos_index
    from collections import Counter

    vocab = [t for t, c in Counter(
        t for text in pdf["text"] for t in tokenize_text(text)
    ).items() if c >= 5]
    rng = random.Random(17)
    ora = Fts5Oracle(pdf)
    for trial in range(20):
        a = rng.choice(vocab)
        # identical operands stay in: FTS5 lets an occurrence pair with
        # itself (probed: NEAR("t" "t", 0) matches single-instance docs
        # with every instance participating), and so does our kernel
        b = a if trial % 7 == 0 else rng.choice(vocab)
        if trial % 4 == 0:   # phrase operand drawn from real text
            toks = tokenize_text(pdf["text"].iloc[rng.randrange(len(pdf))])
            i = rng.randrange(max(len(toks) - 1, 1))
            a = " ".join(toks[i:i + 2]) or a
        n = rng.choice([0, 1, 2, 5, 10, 25])
        ours = idx.near_topk(a, b, n=n, k=20).collect()
        ref = ora.near_topk(a, b, n=n, k=20)
        assert [r["doc_id"] for r in ours] == ref["doc_id"].tolist(), (a, b, n)
        assert np.allclose(
            [r["score"] for r in ours], ref["score"].to_numpy(), atol=1e-9
        ), (a, b, n)


def test_initial_topk_rank_identical_to_fts5(pos_index):
    """'^tok' and '^"two tokens"' anchored matches: rank- and
    score-identical to FTS5."""
    if not fts5_available():
        pytest.skip("no FTS5 in this sqlite build")
    idx, pdf = pos_index
    # first tokens of real docs guarantee non-empty matches
    firsts = {tokenize_text(t)[0] for t in pdf["text"][:50] if tokenize_text(t)}
    two = " ".join(tokenize_text(pdf["text"].iloc[0])[:2])
    ora = Fts5Oracle(pdf)
    for q in sorted(firsts)[:4] + [two, "zzznope"]:
        ours = idx.initial_topk(q, k=15).collect()
        ref = ora.initial_topk(q, k=15)
        assert [r["doc_id"] for r in ours] == ref["doc_id"].tolist(), q
        assert np.allclose(
            [r["score"] for r in ours], ref["score"].to_numpy(), atol=1e-9
        ), q


def test_positional_kernels_on_driver_pin(spark, pos_index):
    """cache=True pins the segments' scoring columns and positions as one
    term-sorted Arrow table on the driver, so queries run their kernels
    there with no segments scan: every positional kernel and score_all over
    that pin returns exactly the uncached index's rows, and a phrase with
    an absent term returns the typed empty frame on both."""
    idx, pdf = pos_index
    cached = FtsIndex.load(spark, idx.index_dir, cache=True)
    pin = cached._pinned
    assert idx._pinned is None and pin is not None
    assert "positions" in pin.column_names
    assert pin.num_rows == idx._segments.count()
    terms = pin.column("term").to_pylist()
    assert terms == sorted(terms)
    from collections import Counter

    common = [t for t, _ in Counter(
        t for text in pdf["text"] for t in tokenize_text(text)).most_common(2)]
    first = tokenize_text(pdf["text"].iloc[0])
    ph = _pick_phrase(pdf, 2)
    queries = {
        "phrase": lambda i: i.phrase_matches(ph),
        "phrase_full_decode": lambda i: i.phrase_matches(ph, prune=False),
        "prefix": lambda i: i.prefix_matches(first[0][:2]),
        "initial": lambda i: i.initial_matches(" ".join(first[:2])),
        "near": lambda i: i.near_relation(ph, common[0], 3),
        "score_all_any": lambda i: i.score_all(" ".join(common), "any"),
        "score_all_all": lambda i: i.score_all(" ".join(common), "all"),
    }
    for name, q in queries.items():
        plain, pinned = q(idx), q(cached)
        assert pinned.schema == plain.schema, name
        want = sorted(map(tuple, plain.collect()))
        assert want, name
        assert sorted(map(tuple, pinned.collect())) == want, name
    typed = spark.createDataFrame([], MATCH_SCHEMA)
    for i in (idx, cached):
        empty = i.phrase_matches(f"{ph} zzznope")
        assert empty.schema == typed.schema
        assert empty.toArrow().schema == typed.toArrow().schema
        assert empty.count() == 0


def test_pin_guard_fallback_matches_pinned_index(spark, pos_index, monkeypatch):
    """cache=True pins the segments on the driver only under
    SEGMENT_PIN_MAX_BYTES. With the guard at 0 the index keeps its df pin
    but takes the segments scan for every query, as does a pinned index
    after unpersist(); over any/all terms, phrase, prefix, '^' and NEAR
    both return the pinned index's ranking: doc_ids exact, scores within
    1e-9, the same schema."""
    from collections import Counter

    from wise_spark.index import reader

    idx, pdf = pos_index
    pinned = FtsIndex.load(spark, idx.index_dir, cache=True)
    released = FtsIndex.load(spark, idx.index_dir, cache=True)
    released.unpersist()
    monkeypatch.setattr(reader, "SEGMENT_PIN_MAX_BYTES", 0)
    guarded = FtsIndex.load(spark, idx.index_dir, cache=True)
    assert pinned._pinned is not None
    assert guarded._pinned is None and guarded._df_cache is not None
    assert released._pinned is None

    common = [t for t, _ in Counter(
        t for text in pdf["text"] for t in tokenize_text(text)).most_common(3)]
    first = tokenize_text(pdf["text"].iloc[0])
    ph = _pick_phrase(pdf, 2)
    terms = [" ".join(common), f"{common[2]} {first[-1]}", first[0],
             f"{common[0]} zzznope"]
    lazy = {
        **{f"topk_{m}_{q}": (lambda i, q=q, m=m: i.topk(q, k=7, mode=m))
           for m in ("any", "all") for q in terms},
        "phrase": lambda i: i.phrase_topk(ph, k=7),
        "prefix": lambda i: i.prefix_topk(first[0][:2] + "*", k=7),
        "initial": lambda i: i.initial_topk(" ".join(first[:2]), k=7),
        "near": lambda i: i.near_topk(ph, common[0], 3, k=7),
    }

    def same(got, want, name):
        assert [d for d, _ in got] == [d for d, _ in want], name
        assert np.abs(np.array([s for _, s in got], dtype=float)
                      - np.array([s for _, s in want], dtype=float)
                      ).max(initial=0.0) <= 1e-9, name

    want = {name: q(pinned) for name, q in lazy.items()}
    want_rows = {name: [tuple(r) for r in df.collect()] for name, df in want.items()}
    assert all(want_rows[n] for n in ("phrase", "prefix", "initial", "near"))
    for i in (guarded, released):
        for mode in ("any", "all"):
            many = i.topk_many(terms, 7, mode=mode)
            assert set(many) == set(terms)
            want_many = pinned.topk_many(terms, 7, mode=mode)
            assert any(want_many.values()), mode
            for q in terms:
                same(many[q], want_many[q], (mode, q))
        for name, q in lazy.items():
            got = q(i)
            assert got.schema == want[name].schema, name
            same([tuple(r) for r in got.collect()], want_rows[name], name)
