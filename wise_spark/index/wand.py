"""Per-shard scoring kernels: exact TAAT and block-max WAND top-k.

Documents are sharded by doc_id, so one shard holds ALL postings of a doc
for every query term — each shard computes complete, final scores locally
and emits a local top-k; the global merge is a tiny TakeOrdered (the same
local-heaps -> global-merge shape as the reference's per-index faiss top-k
followed by result merging, /root/reference/search.py:121-159).

One contract for every row source: a shard's segment rows arrive as
term-sorted records (dicts), `decode_terms` turns them into decoded term
lists, and the kernels (`taat`, `wand_topk`, `local_topk`) map lists to
numpy (doc_id, score) arrays. `score_shard_taat` / `score_shard_wand` wrap
them pandas frame in, frame out, for callers that hold a frame.

Exactness contract (everything rank-identical to the naive scorer/oracles):
  * scores are float64; per-doc contributions are summed in sorted-term
    order (TAAT iterates terms sorted; WAND accumulates at the pivot doc in
    sorted-term order because the term list itself is processed in a
    deterministic sequence and float addition over the same operand order is
    deterministic);
  * ties break ascending doc_id;
  * pruning drops only doc-id intervals whose summed block upper bounds fall
    BELOW a true lower bound of the k-th best score, then keeps ALL score
    ties at the k-th boundary — so the surviving set is a superset of the
    exact top-k and the final sort resolves ties exactly;
  * block maxima are exact float maxima of the true tf-component (no
    quantization), so upper bounds are true upper bounds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..query.bm25 import tf_component
from .codec import decode_postings

# when a query's total decoded postings in a shard are below this, vectorized
# TAAT beats the Python WAND loop; both are exact so this is purely a
# performance switch (the analog of the reference choosing Flat vs IVF,
# /root/reference/create-index.py:30-35 — except ours never changes results)
TAAT_CUTOFF = 50_000


def _no_hits() -> tuple[np.ndarray, np.ndarray]:
    """The one empty result of every kernel: typed like a non-empty one."""
    return np.empty(0, np.int64), np.empty(0, np.float64)


def decode_terms(records: list[dict], idfs: dict[str, float], avgdl: float) -> list[dict]:
    """Decode the segment records of the terms in `idfs`, in record order
    (one shard's records come term-sorted, so the lists do too). A list's
    contributions and block maxima carry its term's idf, which is the same
    for every query of a batch, so one decoded list serves them all:
    kernels read the lists and never write to them."""
    lists = []
    for rec in records:
        idf = idfs.get(rec["term"])
        if idf is None:
            continue
        ids, tfs, dls = decode_postings(rec)
        lists.append({
            "term": rec["term"],
            "ids": ids,
            "contrib": idf * tf_component(tfs, dls, avgdl),
            "blk_last": np.asarray(rec["blk_last"], dtype=np.int64),
            "blk_max": np.asarray(rec["blk_max"], dtype=np.float64) * idf,
        })
    return lists


def frame_records(pdf: pd.DataFrame) -> list[dict]:
    """A frame of segment rows as records, sorted by term (stable). Built
    column-wise: `DataFrame.to_dict("records")` costs ~20x more on these
    small frames of bytes and array cells."""
    names = list(pdf.columns)
    rows = zip(*(pdf[c].tolist() for c in names))
    return sorted((dict(zip(names, row)) for row in rows), key=lambda r: r["term"])


def _frame(ids: np.ndarray, score: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": ids, "score": score})


def score_shard_taat(
    pdf: pd.DataFrame, idfs: dict[str, float], avgdl: float, n_terms: int, mode: str
) -> pd.DataFrame:
    """Exact exhaustive scoring of one shard's segment rows, as a frame."""
    return _frame(*taat(decode_terms(frame_records(pdf), idfs, avgdl),
                        n_terms, mode))


def score_shard_wand(
    pdf: pd.DataFrame, idfs: dict[str, float], avgdl: float, n_terms: int,
    mode: str, k: int,
) -> pd.DataFrame:
    """Block-max WAND local top-k of one shard's segment rows, as a frame."""
    return _frame(*wand_topk(decode_terms(frame_records(pdf), idfs, avgdl),
                             n_terms, mode, k))


def taat(lists: list[dict], n_terms: int, mode: str) -> tuple[np.ndarray, np.ndarray]:
    """Exact TAAT over term-sorted decoded lists: every matching (doc_id,
    score), doc_id ascending (shared by the exhaustive path and the WAND
    small-shard cutoff)."""
    if not lists:
        return _no_hits()
    all_ids = np.concatenate([x["ids"] for x in lists])
    all_contrib = np.concatenate([x["contrib"] for x in lists])
    # deterministic accumulation: stable sort by (doc, term order preserved)
    uniq, inv = np.unique(all_ids, return_inverse=True)
    scores = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(scores, inv, all_contrib)
    if mode == "all":
        keep = np.bincount(inv, minlength=uniq.size) == n_terms
        uniq, scores = uniq[keep], scores[keep]
    return uniq, scores


def wand_topk(lists: list[dict], n_terms: int, mode: str,
              k: int) -> tuple[np.ndarray, np.ndarray]:
    """Local top-k over term-sorted decoded lists, in (score desc, doc_id
    asc) order: block-max WAND for 'any'. For 'all' (conjunctive, FTS5
    MATCH default) the lists intersect from the rarest one using galloping
    searchsorted — exact and faster than WAND for conjunctions."""
    if not lists:
        return _no_hits()
    if mode == "all":
        if len(lists) < n_terms:
            return _no_hits()
        by_size = sorted(lists, key=lambda x: x["ids"].size)
        ids = by_size[0]["ids"]
        for x in by_size[1:]:
            pos = np.minimum(np.searchsorted(x["ids"], ids), x["ids"].size - 1)
            ids = ids[x["ids"][pos] == ids]
            if ids.size == 0:
                return _no_hits()
        score = np.zeros(ids.size, dtype=np.float64)
        for x in lists:  # sorted-term fold
            score += x["contrib"][np.searchsorted(x["ids"], ids)]
        return local_topk(ids, score, k)
    if len(lists) == 1 or sum(x["ids"].size for x in lists) <= TAAT_CUTOFF:
        return local_topk(*taat(lists, n_terms, mode), k)
    return _bmw_any(lists, k)


def local_topk(ids: np.ndarray, score: np.ndarray,
               k: int) -> tuple[np.ndarray, np.ndarray]:
    """The k best (doc_id, score) pairs in the global tie-break order
    (score desc, doc_id asc). A partition finds the k-th best score and
    only the pairs at or above it (its ties included) are sorted: the rows
    of a full two-key sort, without sorting every match."""
    if 0 < k < score.size:
        keep = score >= np.partition(score, score.size - k)[score.size - k]
        ids, score = ids[keep], score[keep]
    order = np.lexsort((ids, -score))[:k]
    return ids[order], score[order]


def _theta0(all_ids: np.ndarray, all_contrib: np.ndarray, k: int) -> float:
    """Lower bound on the k-th best TOTAL score: the k-th largest per-doc
    single-term contribution (a doc's total score >= any one contribution).
    Found from the top-T postings by contribution — argpartition, no sort of
    the full arrays; T grows (rarely) until k distinct docs are covered."""
    n = all_ids.size
    t = min(n, max(4 * k, 256))
    while True:
        top = np.argpartition(all_contrib, n - t)[n - t:]
        uniq, inv = np.unique(all_ids[top], return_inverse=True)
        if uniq.size >= k or t == n:
            per_doc = np.full(uniq.size, -np.inf)
            np.maximum.at(per_doc, inv, all_contrib[top])
            if uniq.size < k:
                return -np.inf  # fewer than k matching docs: no pruning
            return float(np.partition(per_doc, uniq.size - k)[uniq.size - k])
        t = min(n, t * 4)


def _bmw_any(lists: list[dict], k: int) -> tuple[np.ndarray, np.ndarray]:
    """Block-max pruned TAAT, exact top-k, fully vectorized (no per-posting
    Python loop — the classic WAND pointer walk is O(postings) interpreted
    Python on head terms, the very anti-pattern the hot path bans).

    1. theta0: a true lower bound on the k-th best score (see _theta0).
    2. The doc-id axis is cut at every block boundary of every list; each
       interval's upper bound = sum over lists of the covering block's
       blk_max * idf (searchsorted per list — vectorized).
    3. Intervals with UB < theta0 cannot contain a top-k doc (every doc's
       score <= its interval UB; every top-k doc's score >= theta0) and are
       dropped with their postings; the survivors get one exact TAAT pass.
    Pruning power equals WAND's static block-max phase; exactness never
    depends on it (TAAT over a superset of the true top-k)."""
    all_ids = np.concatenate([x["ids"] for x in lists])
    all_contrib = np.concatenate([x["contrib"] for x in lists])
    theta0 = _theta0(all_ids, all_contrib, k)
    # interval ends = union of block boundaries (ascending doc ids)
    bounds = np.unique(np.concatenate([x["blk_last"] for x in lists]))
    iv_ub = np.zeros(bounds.size, dtype=np.float64)
    for x in lists:
        idx = np.searchsorted(x["blk_last"], bounds, side="left")
        ok = idx < x["blk_max"].size
        iv_ub[ok] += x["blk_max"][idx[ok]]
    live = iv_ub >= theta0
    # gather surviving postings (a doc's postings all map to one interval)
    iv = np.searchsorted(bounds, all_ids, side="left")
    keep = live[iv]
    ids = all_ids[keep]
    if ids.size == 0:
        return _no_hits()
    uniq, inv = np.unique(ids, return_inverse=True)
    scores = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(scores, inv, all_contrib[keep])
    return local_topk(uniq, scores, k)
