"""The analyzer: deterministic Unicode tokenization shared by index + query.

Contract (the reference's analog is FTS5's unicode61 tokenizer, which both
the indexer and the MATCH query pass through —
/root/reference/src/index/sqlite_search_index.py:77,110): the exact same
function must run on the document side and the query side, or scores are
meaningless.  Ours: NFKC normalize -> casefold -> runs of word characters
(Unicode alphanumerics, underscore excluded).  On ASCII input this is
equivalent to ``re.findall('[a-z0-9]+', text.lower())`` and to FTS5
unicode61 tokenization, which the parity tests exploit.

All Spark-side use is Arrow-vectorized (pandas UDF over pandas Series) —
no per-row Python UDFs (BASELINE.json.input_hint mandate).
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

# [^\W_] == \w minus underscore; with re.UNICODE this is Unicode alphanumerics.
TOKEN_PATTERN = re.compile(r"[^\W_]+", re.UNICODE)

# ASCII fast path: NFKC is the identity on ASCII, casefold == lower, and
# [^\W_]+ on lowercased ASCII == [a-z0-9]+ — so translate every other ASCII
# byte to space and split. C-level str.translate/split is ~5x the regex scan;
# byte-identical output (parity pinned by tests + the FTS5 oracle).
_ASCII_KEEP = set("abcdefghijklmnopqrstuvwxyz0123456789")
_ASCII_TRANS = str.maketrans(
    {c: " " for c in map(chr, range(128)) if c not in _ASCII_KEEP}
)


def tokenize_text(text: str) -> list[str]:
    """Pure-Python analyzer (query side, oracles, tests)."""
    if text is None:
        return []
    if text.isascii():
        return text.lower().translate(_ASCII_TRANS).split()
    return TOKEN_PATTERN.findall(unicodedata.normalize("NFKC", text).casefold())


def term_counts_udf():
    """Scalar pandas_udf: text -> struct(doclen, counts: array<(term, tf)>).

    Map-side tf computation: a document's term frequencies are purely local,
    so counting inside the UDF removes the groupBy(doc_id, term) shuffle from
    the index build — the exchange that would otherwise move one row per raw
    token. doclen counts ALL tokens (FTS5 column-size semantics)."""
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    schema = (
        "struct<doclen:int, counts:array<struct<term:string, tf:int>>>"
    )

    def one(text: str):
        toks = tokenize_text(text)
        c = Counter(toks)
        return {
            "doclen": len(toks),
            "counts": [{"term": t, "tf": n} for t, n in c.items()],
        }

    @pandas_udf(schema)
    def term_counts(s: pd.Series) -> pd.DataFrame:
        out = s.map(one, na_action=None)
        return pd.DataFrame(
            {"doclen": out.map(lambda d: d["doclen"]),
             "counts": out.map(lambda d: d["counts"])}
        )

    return term_counts
