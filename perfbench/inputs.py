"""Seeded inputs for every benchmark workload.

Everything the engine receives is produced here from the workload seed and
written to parquet/JSON files: the corpus (from `wise_spark.data`), the
`extend_index` delta, the corpus with planted exact and one-token-edited
copies, and the query stream (reference and Zipf-sampled queries). The
same seed gives byte-identical files; the engine never sees the seed.
"""

from __future__ import annotations

import json
import multiprocessing
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from wise_spark.data import corpus_pandas, reference_queries, vocab

VOCAB = 20_000
# Sizes were measured on a 4-vCPU host (perfbench/README.md, Sizing): a
# warm build_index costs ~2.4 s of per-job overhead at any size plus
# ~0.07 ms a document, so BUILD_DOCS is the largest corpus whose generation
# and reference stay within the run-time budget. Search latency is the
# same at 3,000 and 20,000 documents, so SEARCH_DOCS keeps set-up short.
BUILD_DOCS = 20_000
DELTA_DOCS = 1_000
SEARCH_DOCS = 3_000
DEDUP_DOCS = 500             # the exact pair references are all-pairs
PLANTED_SHARE = 0.1          # of DEDUP_DOCS, once exact and once edited
QUERY_POOL = 16              # distinct queries in a search stream
STREAM_LEN = 5_000
SCORE_QUERIES = 30           # queries in the batched score_queries
PROBE_QUERIES = 2            # queries checked on the built and extended index
ABSENT_SHARE = 0.1           # query terms that are absent from every corpus
GEN_PROCS = 4                # forked generator processes for large corpora


@dataclass
class Inputs:
    corpus: str                                 # parquet (doc_id, url, text)
    corpus_bytes: int
    n_docs: int
    queries: list[str] = field(default_factory=list)
    delta: str | None = None                    # parquet, disjoint doc_ids
    planted: str | None = None                  # parquet with planted copies
    probes: list[str] = field(default_factory=list)
    stream: list[int] = field(default_factory=list)  # indices into queries
    exact_groups: list[list[int]] = field(default_factory=list)
    edited_pairs: list[list[int]] = field(default_factory=list)


def _write_parquet(frame: pd.DataFrame, path: str) -> int:
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path,
                   row_group_size=max(1, len(frame) // 8))
    return os.path.getsize(path)


def _rows(seed_ids: tuple[int, np.ndarray]) -> pd.DataFrame:
    seed, ids = seed_ids
    return corpus_pandas(ids, seed=seed, vocab_size=VOCAB)[["doc_id", "url", "text"]]


def corpus_frame(seed: int, n_docs: int, first_id: int = 0) -> pd.DataFrame:
    """(doc_id, url, text) rows of the synthetic web corpus, unique texts.

    Rows depend only on (seed, doc_id), so large corpora are generated in
    GEN_PROCS forked processes, one slice of ids each; callers must not
    have started threads (run.py generates before Spark starts)."""
    ids = np.arange(first_id, first_id + n_docs)
    if n_docs < 2_000:
        pdf = _rows((seed, ids))
    else:
        pool = multiprocessing.get_context("fork").Pool(GEN_PROCS)
        try:
            parts = pool.map(_rows, [(seed, c) for c in np.array_split(ids, GEN_PROCS)])
        finally:
            pool.close()
            pool.join()
        pdf = pd.concat(parts, ignore_index=True)
    return pdf.drop_duplicates("text").reset_index(drop=True)


def _zipf_terms(rng: np.random.Generator, n: int) -> list[str]:
    v = vocab(VOCAB)
    out = []
    for _ in range(n):
        if rng.random() < ABSENT_SHARE:
            out.append(f"zzabsent{int(rng.integers(1000))}")
        else:
            rank = min(int(np.searchsorted(v.cdf, rng.random())), VOCAB - 1)
            out.append(v.words[rank])  # ranks 0-9 are the stopwords
    return out


def query_pool(seed: int, n: int = QUERY_POOL) -> list[str]:
    """Half `reference_queries()`, half Zipf-sampled queries, stratified so
    that every seed gets the same mix of query kinds: one reference query
    from each of n/2 equal blocks of that list (it is ordered by kind), and
    Zipf queries of 1, 2 and 3 terms in turn."""
    rng = np.random.default_rng([seed, 1])
    ref = [q for _, q in reference_queries(VOCAB)]
    edges = np.linspace(0, len(ref), n // 2 + 1).astype(int)
    picked = [ref[int(rng.integers(a, b))] for a, b in zip(edges[:-1], edges[1:])]
    out = list(dict.fromkeys(picked))
    while len(out) < n:
        q = " ".join(_zipf_terms(rng, 1 + len(out) % 3))
        if q not in out:
            out.append(q)
    return out


def query_stream(seed: int, n_queries: int, length: int = STREAM_LEN) -> list[int]:
    """Indices into the pool: back-to-back seeded permutations of it, so a
    run of about one pool's worth of requests sends every query once and
    runs with different seeds see the same mix of query kinds."""
    rng = np.random.default_rng([seed, 2])
    passes = -(-length // n_queries)
    return np.concatenate([rng.permutation(n_queries) for _ in range(passes)])[:length].tolist()


def planted_corpus(seed: int, n_base: int = DEDUP_DOCS,
                   share: float = PLANTED_SHARE, first_id: int = 0):
    """Base corpus plus exact copies and copies with one token replaced.

    Returns (frame, exact_groups, edited_pairs): each exact group is
    [original, copy]; each edited pair is [original, edited copy]."""
    base = corpus_frame(seed, n_base, first_id)
    rng = np.random.default_rng([seed, 3])
    n_plant = max(1, int(len(base) * share))
    chosen = rng.choice(len(base), 2 * n_plant, replace=False)
    next_id = int(base["doc_id"].max()) + 1
    rows, exact, edited = [], [], []
    for j, i in enumerate(chosen):
        orig = base.iloc[int(i)]
        text = orig["text"]
        if j < n_plant:
            exact.append([int(orig["doc_id"]), next_id])
        else:
            words = text.split(" ")
            # a piece holding "\n" spans two tokens; replace a single one
            single = [k for k, w in enumerate(words) if "\n" not in w]
            words[single[int(rng.integers(len(single)))]] = "zzedited"
            text = " ".join(words)
            edited.append([int(orig["doc_id"]), next_id])
        rows.append((next_id, f"https://copy.test/p/{next_id:08d}", text))
        next_id += 1
    copies = pd.DataFrame(rows, columns=["doc_id", "url", "text"])
    frame = pd.concat([base, copies], ignore_index=True)
    return frame, sorted(exact), sorted(edited)


def write_inputs(workload: str, seed: int, out_dir: str) -> Inputs:
    """Generate and write the inputs of one workload run."""
    os.makedirs(out_dir, exist_ok=True)
    corpus = os.path.join(out_dir, "corpus.parquet")
    if workload == "batch":
        frame = corpus_frame(seed, BUILD_DOCS)
        nbytes = _write_parquet(frame, corpus)
        delta = os.path.join(out_dir, "delta.parquet")
        _write_parquet(corpus_frame(seed, DELTA_DOCS, first_id=BUILD_DOCS), delta)
        planted = os.path.join(out_dir, "planted.parquet")
        pframe, exact, edited = planted_corpus(seed, first_id=BUILD_DOCS + DELTA_DOCS)
        _write_parquet(pframe, planted)
        pool = query_pool(seed, SCORE_QUERIES)
        inp = Inputs(corpus, nbytes, len(frame), queries=pool, delta=delta,
                     planted=planted, exact_groups=exact, edited_pairs=edited,
                     probes=pool[::len(pool) // PROBE_QUERIES][:PROBE_QUERIES])
    else:
        frame = corpus_frame(seed, SEARCH_DOCS)
        nbytes = _write_parquet(frame, corpus)
        pool = query_pool(seed)
        inp = Inputs(corpus, nbytes, len(frame), queries=pool,
                     stream=query_stream(seed, len(pool)))
    with open(os.path.join(out_dir, "queries.json"), "w") as f:
        json.dump({"queries": inp.queries, "probes": inp.probes,
                   "stream": inp.stream, "exact_groups": inp.exact_groups,
                   "edited_pairs": inp.edited_pairs}, f, sort_keys=True)
    return inp
