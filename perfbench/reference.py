"""Exact in-process references for the corpus_ops workload's pair sets.

Written from the operators' documented definitions (not from their code),
over all pairs of documents: the corpus is small enough that quadratic is
fine here, which is what makes these exact.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import numpy as np

_TOKEN = re.compile("[a-z0-9]+")  # the dedup operators' ASCII tokenizer


def _tokens(text: str) -> list[str]:
    return _TOKEN.findall(text.lower())


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = _tokens(text)
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def minhash_pairs(ids, texts, n: int = 3, n_hashes: int = 8,
                  bands: int = 4) -> set[tuple[int, int]]:
    """Pairs sharing any LSH band: band key = md5 of the band's minhashes
    joined by '|', minhash_i = min over shingles of md5(shingle + ':' + i)."""
    rows = n_hashes // bands
    buckets: dict[tuple[int, str], list[int]] = {}
    for d, text in zip(ids, texts):
        grams = _shingles(text, n)
        if not grams:
            continue
        sig = [min(_md5(f"{g}:{i}") for g in grams) for i in range(n_hashes)]
        for b in range(bands):
            key = _md5("|".join(sig[b * rows:(b + 1) * rows]))
            buckets.setdefault((b, key), []).append(int(d))
    out = set()
    for docs in buckets.values():
        docs.sort()
        out.update((a, b) for i, a in enumerate(docs) for b in docs[i + 1:])
    return out


def _simhash_bits(text: str) -> np.ndarray | None:
    counts = Counter(_tokens(text))
    if not counts:
        return None
    votes = np.zeros(64, dtype=np.int64)
    for term, tf in counts.items():
        h = _md5(term)
        bits = np.array([(int(h[b // 4], 16) >> (b % 4)) & 1 for b in range(64)])
        votes += tf * (2 * bits - 1)
    return votes > 0


def simhash_pairs(ids, texts, max_hamming: int = 3) -> set[tuple[int, int, int]]:
    """(doc_a, doc_b, hamming) for every pair within max_hamming bits."""
    keep = [(int(d), b) for d, t in zip(ids, texts)
            if (b := _simhash_bits(t)) is not None]
    keep.sort()
    doc = np.array([d for d, _ in keep])
    bits = np.array([b for _, b in keep], dtype=np.int64)
    ham = bits @ (1 - bits).T + (1 - bits) @ bits.T
    a, b = np.nonzero(np.triu(ham <= max_hamming, k=1))
    return {(int(doc[i]), int(doc[j]), int(ham[i, j])) for i, j in zip(a, b)}


def ngram_jaccard_pairs(ids, texts, n: int = 3,
                        threshold: float = 0.5) -> dict[tuple[int, int], float]:
    """(doc_a, doc_b) -> shingle-set Jaccard for pairs at or above threshold."""
    sets = sorted((int(d), s) for d, t in zip(ids, texts) if (s := _shingles(t, n)))
    out = {}
    for i, (da, sa) in enumerate(sets):
        for db, sb in sets[i + 1:]:
            lo, hi = sorted((len(sa), len(sb)))
            # Jaccard <= |smaller| / |larger|; the margin covers pairs the
            # 6-digit rounding lifts onto the threshold
            if lo < (threshold - 1e-6) * hi:
                continue
            common = len(sa & sb)
            jac = round(common / (len(sa) + len(sb) - common), 6)
            if jac >= threshold:
                out[(da, db)] = jac
    return out
