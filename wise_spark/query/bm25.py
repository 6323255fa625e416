"""BM25 scoring math — single source of truth for every scorer.

Convention: SQLite FTS5's bm25() (the reference's ranking function,
/root/reference/src/index/sqlite_search_index.py:110-113;
/root/reference/docs/Metadata.md:97-101), verified empirically against
stdlib sqlite3 FTS5:

    idf(t)   = ln((N - df + 0.5) / (df + 0.5)),  floored at 1e-6 if <= 0
    tfc(d,t) = tf * (k1 + 1) / (tf + k1 * (1 - b + b * doclen/avgdl))
    score    = sum_t idf(t) * tfc(d, t)          (k1 = 1.2, b = 0.75)

FTS5 reports rank = -score ascending; we report score positive descending
with tie-break ascending doc_id (documented sign convention difference).
All corpus statistics are EXACT (rank-identity forbids approx_count_distinct).
"""

from __future__ import annotations

import math

import numpy as np

from .. import B, IDF_FLOOR, K1

# every scorer's result relation: scored hits, unsorted
SCORE_SCHEMA = "doc_id long, score double"


def idf(df: np.ndarray | float, n_docs: int) -> np.ndarray | float:
    """FTS5 idf with the 1e-6 floor. Accepts scalars or numpy arrays."""
    raw = np.log((n_docs - np.asarray(df, dtype=np.float64) + 0.5) / (np.asarray(df, dtype=np.float64) + 0.5))
    out = np.where(raw <= 0.0, IDF_FLOOR, raw)
    if np.isscalar(df) or getattr(df, "ndim", 0) == 0:
        return float(out)
    return out


def idf_scalar(df: int, n_docs: int) -> float:
    raw = math.log((n_docs - df + 0.5) / (df + 0.5))
    return raw if raw > 0.0 else IDF_FLOOR


def tf_component(tf, doclen, avgdl: float):
    """tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) — numpy arrays or scalars."""
    tf = np.asarray(tf, dtype=np.float64)
    doclen = np.asarray(doclen, dtype=np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * doclen / avgdl))


def idf_col(df_col, n_docs: int):
    """Spark Column form of idf (for the naive DataFrame scorer)."""
    from pyspark.sql import functions as F

    raw = F.log((F.lit(float(n_docs)) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))
    return F.when(raw <= 0.0, F.lit(IDF_FLOOR)).otherwise(raw)


def tf_component_col(tf_col, doclen_col, avgdl_col):
    """Spark Column form of the tf component."""
    from pyspark.sql import functions as F

    k1, b = F.lit(K1), F.lit(B)
    return (tf_col * (k1 + F.lit(1.0))) / (
        tf_col + k1 * (F.lit(1.0) - b + b * doclen_col / avgdl_col)
    )
