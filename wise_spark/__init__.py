"""wise_spark — a from-scratch PySpark-native inverted-index + BM25 engine.

Re-expresses the query and data-processing capabilities of ox-vgg/wise
(reference at /root/reference, studied for WHAT it computes, not HOW):
the full-text BM25 path (reference: src/index/sqlite_search_index.py)
becomes a distributed inverted-index build + block-max WAND query pipeline,
and the sharded extract -> build -> top-k -> join-back lifecycle
(reference: extract-features.py, create-index.py, search.py) becomes
DataFrame transformations with Arrow-vectorized pandas UDFs.

Public surface:
    wise_spark.analyzer   — HTML->text extraction + Unicode tokenizer (shared
                            by index and query sides; the "analyzer parity"
                            contract)
    wise_spark.index      — corpus stats, salted posting build, varbyte +
                            block-max codec, segment store, lineage
    wise_spark.query      — naive exact scorer, block-max WAND scorer,
                            boolean composition (IN / NOT-IN / AND / OR),
                            CSV export
    wise_spark.oracle     — pure-pandas exact BM25 + SQLite FTS5 bridge
                            (the rank-identity oracles)
    wise_spark.data       — deterministic synthetic web corpus + query set
    wise_spark.pipeline   — training-data ops: dedup (exact / minhash-LSH /
                            simhash / n-gram Jaccard / embedding cosine),
                            similarity search, text analysis, multimodal
                            plumbing
"""

__version__ = "0.1.0"

K1 = 1.2
B = 0.75
IDF_FLOOR = 1e-6  # SQLite FTS5 floors non-positive idf at 1e-6 (verified
# empirically against stdlib sqlite3 FTS5; reference relies on FTS5's
# default bm25() — /root/reference/src/index/sqlite_search_index.py:110-113)

# every Python worker imports this package when it unpickles an engine
# kernel; from then on its tasks skip re-reading unchanged zips
from .deploy import install_worker_import_cache  # noqa: E402

install_worker_import_cache()
