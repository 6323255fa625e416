"""Reference query set (FIXTURES.md section 2).

Mirrors the reference's `--queries-from` CSV format
(/root/reference/search.py:754-757): header + (query_id, query_text).
Covers: single-term head/mid/tail df, multi-term, absent-term (empty result),
stopword-dense, Unicode casefold (Müller vs müller), and queries whose top-k
contains score ties (tie docs exist by construction — corpus._TIE_PERIOD).
"""

from __future__ import annotations

from .corpus import DEFAULT_VOCAB, vocab


def reference_queries(vocab_size: int = DEFAULT_VOCAB, n: int = 60) -> list[tuple[str, str]]:
    v = vocab(vocab_size)
    w = v.words
    qs: list[tuple[str, str]] = []

    def add(text: str) -> None:
        qs.append((f"q{len(qs) + 1:03d}", text))

    V = vocab_size

    def rk(frac: float) -> int:  # rank as a fraction of the vocab (head..tail)
        return max(10, min(V - 1, int(frac * V)))

    def wi(rank: int) -> str:
        # clamp like rk(): the literal ranks (up to 61) and the fill loop's
        # r (420 at the default n=60) must not IndexError on toy vocabs
        return w[min(rank, V - 1)]

    # single-term: head / mid / tail document-frequency
    for rank in [10, 11, 12, rk(0.005), rk(0.01), rk(0.05), rk(0.1), rk(0.25), rk(0.5), rk(0.8), rk(0.95)]:
        add(wi(rank))
    # stopword-dense
    add("the a of and")
    add("the " + wi(40))
    # multi-term, mixed df
    pairs = [(15, rk(0.15)), (20, rk(0.4)), (30, 31), (12, rk(0.7)), (60, 61), (10, rk(0.9))]
    for a, b in pairs:
        add(f"{wi(a)} {wi(b)}")
    for a, b, c in [(13, rk(0.06), rk(0.3)), (22, rk(0.11), rk(0.45)), (35, rk(0.17), rk(0.6))]:
        add(f"{wi(a)} {wi(b)} {wi(c)}")
    # Unicode / casefold fixtures (corpus pins these at ranks 200/500/900)
    add("müller")
    add("MÜLLER")      # must casefold to the same tokens
    add("straße")
    add("café")
    # absent from corpus -> empty result
    add("zzzmissingterm")
    add(wi(14) + " zzzmissingterm")
    # fill to n with deterministic mid-range picks (tie coverage comes from
    # the corpus's duplicated-multiset docs appearing in these results)
    r = 17
    while len(qs) < n:
        add(f"{wi(r)} {wi((r * 7) % max(1, V - 20) + 10)}")
        r += 13
    return qs[:n]
