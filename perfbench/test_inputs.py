"""The seeded input generator: same seed, same bytes; other seed, other
bytes; planted copies are what they claim to be. No Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from inputs import (
    QUERY_POOL, corpus_frame, planted_corpus, query_pool, write_inputs)

WORKLOADS = ["batch", "search_concurrent"]


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for dp, _, names in os.walk(d):
        for name in names:
            with open(os.path.join(dp, name), "rb") as f:
                out[os.path.relpath(os.path.join(dp, name), d)] = f.read()
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_byte_identical_other_seed_differs(tmp_path, workload):
    a = write_inputs(workload, 7, str(tmp_path / "a"))
    write_inputs(workload, 7, str(tmp_path / "b"))
    write_inputs(workload, 8, str(tmp_path / "c"))
    fa, fb, fc = (_files(str(tmp_path / x)) for x in "abc")
    assert fa == fb
    assert fa.keys() == fc.keys()
    assert all(fa[k] != fc[k] for k in fa)
    assert a.corpus_bytes == os.path.getsize(a.corpus)


def test_planted_copies():
    frame, exact, edited = planted_corpus(3, n_base=200, share=0.1)
    text = dict(zip(frame["doc_id"], frame["text"]))
    assert len(exact) == len(edited) == 20
    assert all(text[a] == text[b] for a, b in exact)
    for a, b in edited:
        wa, wb = text[a].split(" "), text[b].split(" ")
        assert len(wa) == len(wb)
        assert sum(x != y for x, y in zip(wa, wb)) == 1
    originals = [a for a, _ in exact + edited]
    assert len(set(originals)) == len(originals)
    # the base corpus has no exact duplicates of its own
    base = frame[frame["doc_id"] < 200]
    assert base["text"].is_unique


def test_disjoint_delta_and_query_mix():
    base = corpus_frame(5, 50)
    delta = corpus_frame(5, 10, first_id=50)
    assert set(base["doc_id"]).isdisjoint(delta["doc_id"])
    pool = query_pool(5, 40)
    assert len(set(pool)) == 40
    words = {w for q in pool for w in q.split()}
    assert any(w.startswith("zzabsent") for w in words)
    assert words & {"the", "a", "of", "and", "to", "in", "is", "it", "that", "for"}
    assert isinstance(base, pd.DataFrame)


def test_forked_generation_matches_serial():
    # 2,000 documents and more are generated in forked slices
    whole = corpus_frame(4, 2_500)
    parts = pd.concat([corpus_frame(4, 1_000), corpus_frame(4, 1_500, first_id=1_000)])
    assert whole.equals(parts.drop_duplicates("text").reset_index(drop=True))


def test_query_pool_has_the_same_mix_for_every_seed():
    def mix(seed):
        pool = query_pool(seed)
        return sorted(len(q.split()) for q in pool[QUERY_POOL // 2:])
    assert mix(1) == mix(2) == mix(3)
    assert query_pool(1) != query_pool(2)


def test_batch_inputs_are_disjoint(tmp_path):
    inp = write_inputs("batch", 2, str(tmp_path))
    ids = set(pd.read_parquet(inp.corpus)["doc_id"])
    delta = set(pd.read_parquet(inp.delta)["doc_id"])
    assert ids.isdisjoint(delta)
    assert (ids | delta).isdisjoint(pd.read_parquet(inp.planted)["doc_id"])
    assert len(inp.probes) == 2 and set(inp.probes) <= set(inp.queries)
