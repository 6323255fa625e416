"""Driver contract for the spark-graft builder (PySpark target).

Every entry pairs a Spark implementation (wise_spark operators) with an
ANSI-SQL DuckDB oracle over the same parquet tables. Column names and
rounding are aligned on both sides; floats are rounded (BM25 scores at 9 dp
— head-term idf floors at 1e-6 so 6 dp would erase the ranking signal;
other metrics at 6 dp) and sorted by the rounded value so tie selection at
LIMIT boundaries is identical across engines.

Coverage map (SURVEY.md section 2 -> entries):
  fulltext engine   ft_*            (S1,S3,S6,S7,A1,A2,A6,A7,T1,T3,J1,U1-U4,C9,F4)
  dedup pipeline    dedup_*         (S4,C11 + training-data ops)
  similarity        ann_*           (T2 analog)
  text analysis     text_*          (F1,F2 analogs + training-data ops)
  relational/window rel_*           (A3,A4,A5,J2,J5,W1-W4,F7,T6)
  multimodal        mm_*            (S2,S3 plumbing)
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _ship(spark: SparkSession) -> None:
    import sys

    d = os.path.dirname(os.path.abspath(__file__))
    if d not in sys.path:   # repeated calls must not grow sys.path
        sys.path.insert(0, d)
    from wise_spark.deploy import ship_package

    ship_package(spark)


_TOK_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_TOK_CTE = f"""
tok AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
              (SELECT avg(len({_TOK_SQL})) FROM documents) AS avgdl)
"""


def _bm25_score_cte(terms: list[str], cte_name: str) -> str:
    """CTE computing (doc_id, score float64 unrounded, n_hit) for terms."""
    tl = ",".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
{cte_name}_tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term IN ({tl})
  GROUP BY doc_id, term
),
{cte_name}_df AS (SELECT term, count(*) AS df FROM {cte_name}_tf GROUP BY term),
{cte_name} AS (
  SELECT t.doc_id,
         sum((CASE WHEN ln((st.n_docs - d.df + 0.5)/(d.df + 0.5)) <= 0
                   THEN 0.000001
                   ELSE ln((st.n_docs - d.df + 0.5)/(d.df + 0.5)) END)
             * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * dl.doclen / st.avgdl))
         ) AS score,
         count(*) AS n_hit
  FROM {cte_name}_tf t JOIN {cte_name}_df d USING(term)
       JOIN dl USING(doc_id) CROSS JOIN st
  GROUP BY t.doc_id
)
"""


def _src_fingerprint(sf_dir: str) -> str:
    """Data fingerprint for documents.parquet at sf_dir: file names + sizes
    + mtimes (no data read). Cache keys must cover the DATA, not just the
    path — regenerated parquet at the same path must invalidate."""
    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    parts = [os.path.abspath(sf_dir)]
    if os.path.isdir(src):
        for fn in sorted(os.listdir(src)):
            st = os.stat(os.path.join(src, fn))
            parts.append(f"{fn}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(src):
        st = os.stat(src)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


# (kind, abspath(sf_dir)) -> ((applicationId, fingerprint), held object)
_HOT: dict = {}


def _hot(spark: SparkSession, sf_dir: str, kind: str, make: Callable):
    """The hot `kind` object for sf_dir, held while the Spark application
    and the data fingerprint stay the same; on any other tag the held
    object is unpersisted and replaced by make(). A PySpark process runs one
    SparkContext at a time, so a held object of another application belongs
    to a stopped context, whose unpersist may raise. The release runs
    BEFORE make(): a new corpus over the same parquet path has the same
    canonical plan, and releasing the old one after would uncache it."""
    key = (kind, os.path.abspath(sf_dir))
    tag = (spark.sparkContext.applicationId, _src_fingerprint(sf_dir))
    held = _HOT.get(key)
    if held is not None:
        if held[0] == tag:
            return held[1]
        try:
            held[1].unpersist()
        except Py4JError:  # held by a stopped context
            pass
    _HOT[key] = (tag, make())
    return _HOT[key][1]


def _ft_corpus(spark: SparkSession, sf_dir: str):
    """The cached TokenizedCorpus of documents.parquet: every ft_* entry
    shares one tokenize pass."""
    from wise_spark.query.naive import TokenizedCorpus

    return _hot(spark, sf_dir, "corpus", lambda: TokenizedCorpus.build(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), cache=True))


def _get_index(spark: SparkSession, sf_dir: str):
    """The serving-mode FtsIndex of documents.parquet, built on first use
    into a per-user, per-fingerprint temp dir. cache=True reads the
    segments into a driver-memory Arrow pin and the term->df stats into a
    driver dict at load, so each query scores on the driver with no
    segments scan — the mode bench.py measures query latency in, like the
    reference's hot SQLite index copied to :memory:."""
    from wise_spark.index import FtsIndex, build_index

    _ship(spark)

    def make():
        uid = getattr(os, "getuid", lambda: 0)()
        d = os.path.join(tempfile.gettempdir(),
                         f"wise_idx_v3_{uid}_{_src_fingerprint(sf_dir)}")
        if not os.path.exists(os.path.join(d, "meta.json")):
            docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
            build_index(docs, d, url_col="source", n_shards=8, n_buckets=8,
                        n_waves=2, with_positions=True)
        return FtsIndex.load(spark, d, cache=True)

    return _hot(spark, sf_dir, "index", make)


def _top(scored: DataFrame, k: int) -> DataFrame:
    """The entry's top-k tail: scores rounded to 9 dp, then the first k rows
    under (score desc, doc_id asc) — rounded first, so tie selection at the
    LIMIT boundary matches the oracle's ORDER BY round(score, 9)."""
    return (
        scored.withColumn("score", F.round("score", 9))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _ft_topk_spark(spark, sf_dir, query, k, mode):
    from wise_spark.query.naive import score_query

    return _top(score_query(_ft_corpus(spark, sf_dir), query, mode), k)


_Q1 = ["spark", "merge", "window"]
_Q2 = ["spark", "table"]


# ---------------------------------------------------------------------------
# fulltext entries
# ---------------------------------------------------------------------------


def q_ft_bm25_topk_any(spark, sf_dir):
    return _ft_topk_spark(spark, sf_dir, " ".join(_Q1), 50, "any")


def q_ft_bm25_topk_all(spark, sf_dir):
    return _ft_topk_spark(spark, sf_dir, " ".join(_Q2), 50, "all")


def q_ft_bm25_wand(spark, sf_dir):
    idx = _get_index(spark, sf_dir)
    pool = idx.topk(" ".join(_Q1), k=100, mode="any", method="wand")
    return _top(pool, 50)


def q_ft_hydrate(spark, sf_dir):
    """Top-k hits joined back to doc_map metadata via FtsIndex.hydrate —
    the reference's FTS rowid join-back
    (/root/reference/src/index/sqlite_search_index.py:110-113)."""
    idx = _get_index(spark, sf_dir)
    hits = idx.topk(" ".join(_Q1), k=100, mode="any", method="wand")
    hits = _top(hits, 20)
    return idx.hydrate(hits).select(
        "doc_id", F.col("url").alias("src"), "score"
    ).orderBy(F.desc("score"), F.asc("doc_id"))


def _bm25_topk_sql(terms, k, mode):
    hv = f"WHERE n_hit = {len(set(terms))}" if mode == "all" else ""
    return f"""
WITH {_TOK_CTE}, {_bm25_score_cte(terms, "s")}
SELECT doc_id, round(score, 9) AS score FROM s {hv}
ORDER BY round(score, 9) DESC, doc_id ASC LIMIT {k}
"""


def q_ft_page(spark, sf_dir):
    """Reference /search pagination slice (start=10, end=30) over the naive
    BM25 scores — rank carried as an explicit column
    (/root/reference/api/routes.py:1214-1216,1377-1381)."""
    from wise_spark.query.naive import score_query
    from wise_spark.query.search import page

    scored = score_query(_ft_corpus(spark, sf_dir), " ".join(_Q1), "any")
    scored = scored.select("doc_id", F.round("score", 9).alias("score"))
    return page(scored, start=10, end=30).select(
        "doc_id", "score", F.col("rank").cast("long").alias("rank")
    ).orderBy("rank")


def q_disp_formats(spark, sf_dir):
    """Display formatters C2-C4 over event timestamps (reference
    search.py:551-584)."""
    from wise_spark.query.display import clamp_str_col, to_hhmmss_col

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    sec = F.col("value") * 1000.0
    return ev.select(
        "event_id",
        to_hhmmss_col(sec).alias("hhmmss"),
        clamp_str_col(F.col("event_type"), 4).alias("etype_clamped"),
    ).orderBy("event_id")


def q_ft_not_in(spark, sf_dir):
    from wise_spark.query.naive import score_query
    from wise_spark.query.search import subtract

    c = _ft_corpus(spark, sf_dir)
    hits = subtract(score_query(c, "spark", "any"), score_query(c, "vector", "any"))
    return _top(hits, 50)


def q_ft_and_merge(spark, sf_dir):
    from wise_spark.query.naive import score_query
    from wise_spark.query.search import and_merge

    c = _ft_corpus(spark, sf_dir)
    m = and_merge(score_query(c, "spark", "any"), score_query(c, "merge", "any"))
    return _top(m, 50)


def q_ft_or_merge(spark, sf_dir):
    from wise_spark.query.naive import score_query
    from wise_spark.query.search import or_merge

    c = _ft_corpus(spark, sf_dir)
    m = or_merge(score_query(c, "spark", "any"), score_query(c, "vector", "any"))
    return _top(m, 50)


def q_ft_bm25_wand_all(spark, sf_dir):
    idx = _get_index(spark, sf_dir)
    pool = idx.topk(" ".join(_Q2), k=100, mode="all", method="wand")
    return _top(pool, 50)


def q_ft_phrase(spark, sf_dir):
    idx = _get_index(spark, sf_dir)
    pool = idx.phrase_topk("table hash", k=100)
    return _top(pool, 40)


def q_ft_prefix(spark, sf_dir):
    """FTS5 prefix query 's*' (matches scan/slow/small/sort/spark/stream in
    the synthetic vocab) — one virtual term, StringStartsWith pushed into
    the term-sorted segment scan."""
    idx = _get_index(spark, sf_dir)
    pool = idx.prefix_topk("s*", k=100)
    return _top(pool, 40)


def q_ft_phrase_fts5(spark, sf_dir):
    """Phrase top-k checked INLINE against the actual reference engine:
    SQLite FTS5 (the reference executes quoted phrases through FTS5 MATCH,
    /root/reference/src/index/sqlite_search_index.py:110-113). The entry
    raises if our phrase_topk is not rank- AND score-identical (atol 1e-9)
    to FTS5's quoted-phrase bm25 on the same corpus (all-ASCII at every
    test SF, so unicode61 == our analyzer), then returns our result — which
    the driver additionally hash-checks against the DuckDB SQL
    reconstruction. Green certifies Spark == FTS5 == SQL."""
    import numpy as np

    from wise_spark.oracle import Fts5Oracle, fts5_available

    idx = _get_index(spark, sf_dir)
    phrase = "hash join"
    ours = idx.phrase_topk(phrase, k=20)
    if fts5_available():
        got = ours.collect()
        pdf = _t(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
        ref = Fts5Oracle(pdf).phrase_topk(phrase, k=20)
        if [r["doc_id"] for r in got] != ref["doc_id"].tolist() or not np.allclose(
            [r["score"] for r in got], ref["score"].to_numpy(), atol=1e-9
        ):
            raise AssertionError(
                f"phrase_topk diverges from the FTS5 reference engine for {phrase!r}"
            )
    return _top(ours, 20)


def q_ft_parsed_and(spark, sf_dir):
    from wise_spark.query.naive import score_query
    from wise_spark.query.parser import execute, parse_query

    c = _ft_corpus(spark, sf_dir)
    scorers = {"text": lambda q, m: score_query(c, q, m)}
    rel = execute(parse_query("spark in text and merge in text", ["text"]), scorers, mode="any")
    return _top(rel, 50)


def q_dedup_minhash_signatures(spark, sf_dir):
    from wise_spark.pipeline import minhash_signatures

    d = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(F.col("doc_id") < 200)
    return minhash_signatures(d, n=3).orderBy("doc_id")


def q_rel_ordered_lookup(spark, sf_dir):
    from wise_spark.pipeline.relational import ordered_lookup

    c = _t(spark, sf_dir, "customer")
    ids = [30, 5, 12, 1, 44]
    return ordered_lookup(ids, c.select("c_custkey", "c_name"), "c_custkey").select(
        "c_custkey", "c_name", F.col("rank").cast("int").alias("rank")
    )


def q_emb_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    return emb.select(
        "vec_id",
        "label",
        F.round(F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, v: a + v * v)), 6).alias("l2_norm"),
        F.size("embedding").alias("dim"),
    ).orderBy("vec_id")


def q_ft_corpus_stats(spark, sf_dir):
    from wise_spark.analyzer.tokenizer import term_counts_udf

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(term_counts_udf()(F.col("text"))["doclen"].alias("dl"))
    return toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )


def q_ft_term_df(spark, sf_dir):
    return (
        _ft_corpus(spark, sf_dir).tf
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


def q_ft_doc_lengths(spark, sf_dir):
    from wise_spark.analyzer.tokenizer import term_counts_udf

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        term_counts_udf()(F.col("text"))["doclen"].cast("long").alias("doclen"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# dedup / text / similarity entries
# ---------------------------------------------------------------------------


def _docs_with_dups(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    return d.unionByName(dup)


_DUP_SQL = (
    "(SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 20)"
)


def q_ingest_extract_text(spark, sf_dir):
    """S3 invariant driver-checked: deterministic HTML synthesized around
    each document's text, run through the REAL stdlib-pinned extractor
    (wise_spark.analyzer.html — the engine's 'media decode',
    /root/reference/src/dataloader/dataset.py:213-336 analog); the oracle
    reproduces the extraction contract (entity decode, whitespace collapse,
    block join) in pure SQL."""
    from wise_spark.analyzer.html import extract_text_udf

    _ship(spark)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    esc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace("text", "&", "&amp;"), "<", "&lt;"),
        ">", "&gt;",
    )
    html = F.concat(
        F.lit("<html><head><script>var x = 1;</script><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><nav>menu home</nav><p>"),
        esc,
        F.lit("</p></body></html>"),
    ).cast("binary")
    return docs.select(
        "doc_id", extract_text_udf()(html).alias("extracted")
    ).orderBy("doc_id")


def q_dedup_exact(spark, sf_dir):
    from wise_spark.pipeline import exact_duplicates

    return exact_duplicates(_docs_with_dups(spark, sf_dir)).orderBy("text_hash")


def q_dedup_ngram_jaccard(spark, sf_dir):
    from wise_spark.pipeline import ngram_jaccard_pairs

    # max_shingle_df=None: EXACT quadratic semantics to mirror the DuckDB
    # oracle; the pipeline default is a finite hot-shingle cap (scale trap
    # otherwise — see ngram_jaccard_pairs docstring)
    return ngram_jaccard_pairs(
        _docs_with_dups(spark, sf_dir), n=3, threshold=0.5, max_shingle_df=None
    ).orderBy("doc_a", "doc_b")


def q_dedup_minhash_lsh(spark, sf_dir):
    from wise_spark.pipeline import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs_with_dups(spark, sf_dir), n=3).orderBy("doc_a", "doc_b")


def q_dedup_simhash(spark, sf_dir):
    from wise_spark.pipeline import simhash_fingerprints

    d = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(F.col("doc_id") < 100)
    return simhash_fingerprints(d).orderBy("doc_id")


def q_ft_multi_target(spark, sf_dir):
    """Implicit multi-target fan-out (U4): a bare query with no `in <target>`
    unions every registered index with max-score dedup (the reference unions
    audio+video+metadata when no target is named, search.py:866-871)."""
    from wise_spark.query.naive import TokenizedCorpus, score_query
    from wise_spark.query.parser import execute, parse_query

    text_c = _ft_corpus(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    src_c = TokenizedCorpus.build(
        docs.select("doc_id", F.col("source").alias("text"))
    )
    scorers = {
        "text": lambda q, m="any": score_query(text_c, q, "any"),
        "source": lambda q, m="any": score_query(src_c, q, "any"),
    }
    rel = execute(parse_query("spark src5", ["text", "source"]), scorers, mode="any")
    return _top(rel, 50)


def q_rel_modality_split(spark, sf_dir):
    """Modality split (F6): partition the corpus by a modality-like column
    with per-modality stats (the reference splits assets by media_type)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


def q_dedup_simhash_pairs(spark, sf_dir):
    from wise_spark.pipeline import simhash_pairs

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = base.filter(F.col("doc_id") < 100).unionByName(
        base.filter(F.col("doc_id") < 20).withColumn(
            "doc_id", F.col("doc_id") + F.lit(100000)
        )
    )
    return (
        simhash_pairs(d, max_hamming=3)
        .withColumn("hamming", F.col("hamming").cast("long"))
        .orderBy("doc_a", "doc_b")
    )


def q_dedup_emb_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (the prompt's fifth dedup
    family). mode="exact" here because the oracle is an all-pairs SQL join;
    the scale default mode="lsh" (bucketed candidate equi-join + exact
    verify, precision always 1.0) is covered by test_pipeline.py recall
    assertions against this exact output. Threshold 0.45: the synthetic
    embeddings table's max pair cosine is ~0.51, so a true near-dup
    threshold (0.9) would pass trivially on 0 rows — 0.45 exercises the
    operator non-trivially at every test SF (min |cosine-0.45| margin
    >= 5e-4, far above double-vs-double summation noise)."""
    from wise_spark.pipeline import cosine_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return (
        cosine_neardup_pairs(emb, 0.45, mode="exact")
        .orderBy("vec_id_a", "vec_id_b")
    )


_META_CSV_ROWS = [
    # (metadata_id, filename=doc_id, starttime, stoptime, tag)
    ("m0", "0", "0:00:02", "0:00:09", "intro"),
    ("m1", "1", "12.5", "200.0", "speech"),
    ("m2", "2", "-1", "5", "bad-negative-start"),
    ("m3", "3", "0:30:00", "0:31:00", "start-past-limit"),
    ("m4", "4", "9", "3", "stop-before-start"),
    ("m5", "99999999", "0", "1", "missing-doc"),
    ("m6", "5", "0:00:00", "0:00:00", "empty-range-ok"),
    ("m7", "6", "30", "0:01:40", "mixed-formats"),
]


def q_meta_csv_import(spark, sf_dir):
    """Metadata CSV import: validation join + reject filtering + composed
    columns (reference /root/reference/metadata.py:111-256). The CSV is
    written from constants (idempotent) so the DuckDB oracle can embed the
    identical rows as VALUES."""
    import csv as _csv
    import os
    import tempfile

    from wise_spark.sources import import_metadata_csv

    # per-user filename: a fixed shared /tmp path breaks for the second
    # user on the same host (PermissionError on another user's file)
    uid = getattr(os, "getuid", lambda: 0)()
    path = os.path.join(tempfile.gettempdir(), f"wise_meta_import_{uid}.csv")
    with open(path, "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["metadata_id", "filename", "starttime", "stoptime", "tag"])
        w.writerows(_META_CSV_ROWS)
    docs = _t(spark, sf_dir, "documents")
    res = import_metadata_csv(
        spark, path, docs, key_col="doc_id", limit_col="n_chars",
        metadata_cols=["tag"],
    )
    valid = res["valid"].select(
        F.col("__metadata_id").alias("metadata_id"),
        F.col("__key").alias("doc_id"),
        F.col("__starttime").alias("starttime"),
        F.col("__stoptime").alias("stoptime"),
        "tag",
    )
    return valid.orderBy("metadata_id")


def q_text_fingerprints(spark, sf_dir):
    from wise_spark.pipeline import fingerprints

    return fingerprints(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_text_quality(spark, sf_dir):
    from wise_spark.pipeline import quality_features

    return quality_features(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_text_lang_guess(spark, sf_dir):
    from wise_spark.pipeline import lang_guess

    return lang_guess(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_text_token_stats(spark, sf_dir):
    from wise_spark.pipeline import token_stats

    d = _t(spark, sf_dir, "documents")
    return token_stats(d).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    ).orderBy("doc_id")


def q_text_repetition(spark, sf_dir):
    from wise_spark.pipeline import repetition_features

    return repetition_features(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_text_winnow_fps(spark, sf_dir):
    from wise_spark.pipeline import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=4, w=4).orderBy(
        "doc_id", "fp"
    )


def q_dedup_winnow_pairs(spark, sf_dir):
    from wise_spark.pipeline import winnow_pairs

    return winnow_pairs(_t(spark, sf_dir, "documents"), k=4, w=4, min_shared=2).orderBy(
        "doc_a", "doc_b"
    )


def _messy_urls(docs, extra_cols=()):
    """Deterministic messy surface URL per document (the DuckDB oracle
    inlines the identical derivation): scheme/www/port/tracking/fragment/
    trailing-slash variants that all canonicalize away, keyed so every
    (doc_id % 100) residue class collapses to ONE canonical URL — doc_id %
    100 fixes doc_id % 20 and hence the source-derived host, so groups are
    host-consistent by construction."""
    did = F.col("doc_id")
    pk = (did % 100).cast("string")
    has_q = (did % 100) % 2 == 0
    raw = F.concat(
        F.when(did % 2 == 0, F.lit("http://")).otherwise(F.lit("https://")),
        F.when(did % 5 == 0, F.lit("WWW."))
        .when(did % 5 == 1, F.lit("www."))
        .otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com"),
        F.when(did % 7 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        pk,
        F.when(~has_q & (did % 3 == 0), F.lit("/")).otherwise(F.lit("")),
        F.when(
            has_q,
            F.concat(
                F.lit("?id="), pk,
                F.when(did % 4 == 0, F.lit("&utm_source=Feed")).otherwise(F.lit("")),
            ),
        ).otherwise(
            F.when(did % 4 == 0, F.lit("?utm_source=Feed")).otherwise(F.lit(""))
        ),
        F.when(did % 6 == 0, F.lit("#Sec2")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", raw.alias("raw_url"), *extra_cols)


def q_url_canonical(spark, sf_dir):
    from wise_spark.pipeline import canonicalize_url

    raw = _messy_urls(_t(spark, sf_dir, "documents"))
    return raw.select(
        "doc_id", "raw_url", canonicalize_url("raw_url").alias("canon_url")
    ).orderBy("doc_id")


def q_url_dup_groups(spark, sf_dir):
    from wise_spark.pipeline import url_duplicate_groups

    raw = _messy_urls(_t(spark, sf_dir, "documents"))
    return url_duplicate_groups(raw, url_col="raw_url").orderBy("canon_url")


def q_dedup_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing >= 2 distinct
    3-gram shingles with a probe (benchmark) doc. Probes = documents
    0-19; corpus = everything else plus the shifted exact copies of the
    probes (so every probe has at least one planted contaminated doc)."""
    from wise_spark.pipeline import cross_contamination

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    probes = d.filter(F.col("doc_id") < 20).withColumnRenamed(
        "doc_id", "probe_id")
    corpus = _docs_with_dups(spark, sf_dir).filter(F.col("doc_id") >= 20)
    return cross_contamination(corpus, probes, n=3, min_shared=2).orderBy(
        "doc_id", "probe_id")


def _pii_texts(docs):
    """Deterministic planted PII-ish strings (the DuckDB oracle inlines the
    identical derivation) — the synthetic corpus itself is PII-free, so the
    detector entry needs planted positives to be a non-trivial check."""
    did = F.col("doc_id")
    extra = F.concat(
        F.when(did % 5 == 0, F.concat(
            F.lit(" contact user"), (did % 50).cast("string"),
            F.lit("@example.com now"))).otherwise(F.lit("")),
        F.when(did % 7 == 0,
               F.lit(" server at 192.168.1.77 up")).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.concat(
            F.lit(" see https://example.com/p/"),
            (did % 100).cast("string"))).otherwise(F.lit("")),
        F.when(did % 13 == 0,
               F.lit(" call +1 555 867-5309")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", F.concat(F.col("text"), extra).alias("text"))


def q_text_pii_stats(spark, sf_dir):
    """Per-doc PII-ish pattern counts (emails / IPv4 / inline URLs /
    phone-shaped runs) — the detector stage of a redaction/filter pass."""
    from wise_spark.pipeline import pii_features

    return pii_features(_pii_texts(_t(spark, sf_dir, "documents"))).orderBy(
        "doc_id")


def q_ft_near(spark, sf_dir):
    """FTS5 NEAR("spark" "merge", 5): proximity-constrained BM25 with
    participating-instance tfs and standalone dfs (rank-identical to
    FTS5's NEAR scoring, pinned by the fuzz suite)."""
    idx = _get_index(spark, sf_dir)
    pool = idx.near_topk("spark", "merge", n=5, k=100)
    return _top(pool, 40)


def q_ft_initial(spark, sf_dir):
    """FTS5 '^customer' initial-token anchor: docs whose text STARTS with
    the token, scored as one anchored virtual term."""
    idx = _get_index(spark, sf_dir)
    pool = idx.initial_topk("customer", k=100)
    return _top(pool, 40)


def q_text_line_dedup(spark, sf_dir):
    """C4-style line-level dedup: boilerplate lines planted across half/a
    third of the corpus are stripped; each doc's own content lines stay,
    order preserved."""
    from wise_spark.pipeline import strip_duplicate_lines

    did = F.col("doc_id")
    multiline = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.when(did % 2 == 0, F.lit("accept all cookies and continue")),
            F.col("text"),
            F.when(did % 3 == 0,
                   F.lit("copyright example dot com all rights reserved")),
        ).alias("text"),
    )
    return strip_duplicate_lines(multiline, min_df=5).orderBy("doc_id")


def q_url_domain_stats(spark, sf_dir):
    """Per-host corpus profile over the messy-URL surface — the input to
    domain-level curation (C4/Gopher-style allow/deny lists, per-domain
    sampling caps): doc count, token volume, mean doc tokens, distinct
    canonical URLs per host."""
    from wise_spark.pipeline import domain_stats

    raw = _messy_urls(_t(spark, sf_dir, "documents"), extra_cols=("text",))
    return domain_stats(raw, url_col="raw_url").orderBy("host")


def q_url_domain_sample(spark, sf_dir):
    """Per-domain sampling cap (keep the 3 smallest doc_ids per host) —
    the C4-style curation step fed by url_domain_stats."""
    from wise_spark.pipeline import sample_per_domain

    raw = _messy_urls(_t(spark, sf_dir, "documents"))
    return sample_per_domain(raw, 3, url_col="raw_url").select(
        "host", "rank_in_host", "doc_id"
    ).orderBy("host", "rank_in_host")


def q_ann_cosine_topk(spark, sf_dir):
    from wise_spark.pipeline import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, queries, k=10).orderBy("query_id", "rank")


def q_mm_binary_metadata(spark, sf_dir):
    from wise_spark.pipeline.multimodal import attach_binary, binary_metadata

    blobs = attach_binary(_t(spark, sf_dir, "documents"))
    # Spark's base64 emits RFC-2045 MIME line breaks every 76 chars;
    # strip to the canonical unchunked form (still JVM-side)
    b64 = blobs.select(
        "doc_id",
        F.regexp_replace(F.base64(F.col("payload")), "\r\n", "").alias("payload_b64"),
    )
    return binary_metadata(blobs).join(b64, "doc_id").orderBy("doc_id")


def q_mm_decode_image_stats(spark, sf_dir):
    """Real image decode end-to-end: per doc, synthesize an uncompressed
    24-bit BMP whose dims and constant pixel value are pure functions of
    doc_id (w = 3 + id%13, h = 1 + id%7, v = id%251), push it through the
    pure-numpy BMP decoder (wise_spark.pipeline.multimodal.decode_image) and
    the vectorized pixel aggregator (image_stats). Because the payload is a
    closed form of doc_id, DuckDB can predict every output column without a
    decoder — so the decode (header walk, bottom-up row order, 4-byte row
    padding) is value-checked, not just rows-checked: a decoder that read
    padding bytes or mis-sized rows would change sum_px/width/height."""
    from collections.abc import Iterator as _It

    import numpy as _np
    import pandas as _pd

    from wise_spark.pipeline.multimodal import decode_image, encode_bmp, image_stats

    def synth(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads = [
                encode_bmp(
                    _np.full(
                        (1 + int(i) % 7, 3 + int(i) % 13, 3),
                        int(i) % 251,
                        dtype=_np.uint8,
                    )
                )
                for i in ids
            ]
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    blobs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .mapInPandas(synth, schema="doc_id long, payload binary")
    )
    return image_stats(decode_image(blobs)).orderBy("doc_id")


# ---------------------------------------------------------------------------
# relational / window entries
# ---------------------------------------------------------------------------


def q_rel_sessionize(spark, sf_dir):
    from wise_spark.pipeline.relational import session_stats

    ev = _t(spark, sf_dir, "events")
    s = session_stats(ev, "user_id", "ts", 1800.0)
    return s.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "n_events",
        F.floor(F.col("start_s")).cast("long").alias("start_s"),
        F.floor(F.col("end_s")).cast("long").alias("end_s"),
        "duration_s",
    ).orderBy("user_id", "session_id")


def q_rel_best_event_per_user(spark, sf_dir):
    from wise_spark.pipeline.relational import best_per_group

    ev = _t(spark, sf_dir, "events")
    return best_per_group(ev, "user_id", "value", "event_id").select(
        "user_id", "event_id", F.round("value", 6).alias("value")
    ).orderBy("user_id")


def q_rel_tolerance_merge(spark, sf_dir):
    from pyspark.sql import Window

    from wise_spark.pipeline.relational import tolerance_merge

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    ranked = ev.withColumn("rank", F.row_number().over(w))
    m = tolerance_merge(ranked, "user_id", "ts", "rank", "value",
                        pts_tolerance=600.0, rank_tolerance=5)
    return m.select(
        "user_id",
        F.col("merge_id").cast("long").alias("merge_id"),
        "n_hits",
        F.floor("start_s").cast("long").alias("start_s"),
        F.floor("end_s").cast("long").alias("end_s"),
        F.col("best_rank").cast("long").alias("best_rank"),
        F.round("best_score", 6).alias("best_score"),
    ).orderBy("user_id", "merge_id")


def q_rel_overlap_antijoin(spark, sf_dir):
    from wise_spark.pipeline.relational import _epoch_seconds, overlap_antijoin

    ev = _t(spark, sf_dir, "events").withColumn("ts_s", _epoch_seconds("ts"))
    a = ev.withColumn("a_start", F.col("ts_s")).withColumn(
        "a_end", F.col("ts_s") + F.lit(60.0)
    )
    b = (
        ev.filter(F.col("event_type") == "error")
        .withColumn("b_start", F.col("ts_s") - F.lit(120.0))
        .withColumn("b_end", F.col("ts_s") + F.lit(120.0))
    )
    out = overlap_antijoin(a, b, "user_id", "event_id",
                           "a_start", "a_end", "b_start", "b_end",
                           bucket_seconds=600.0)
    return out.select("event_id", "user_id", "event_type").orderBy("event_id")


def q_rel_overlap_join(spark, sf_dir):
    """Interval-overlap INNER join (reference merge1 / eval-overlap pairing,
    search.py:393-445): error events pair with any same-user event whose
    60s window intersects the error's +/-120s window."""
    from wise_spark.pipeline.relational import _epoch_seconds, overlap_join

    ev = _t(spark, sf_dir, "events").withColumn("ts_s", _epoch_seconds("ts"))
    a = ev.select(
        "user_id", F.col("event_id").alias("a_id"),
        F.col("ts_s").alias("a_start"), (F.col("ts_s") + F.lit(60.0)).alias("a_end"),
    )
    b = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("b_id"),
        (F.col("ts_s") - F.lit(120.0)).alias("b_start"),
        (F.col("ts_s") + F.lit(120.0)).alias("b_end"),
    )
    out = overlap_join(a, b, "user_id", "a_start", "a_end", "b_start", "b_end",
                       bucket_seconds=600.0)
    return out.select("user_id", "a_id", "b_id").orderBy("a_id", "b_id")


def q_rel_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_rel_top_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        rev.join(F.broadcast(c.select("c_custkey", "c_name")),
                 rev["o_custkey"] == c["c_custkey"])
        .select(F.col("c_custkey"), F.col("c_name"), "revenue", "n_orders")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_rel_customers_without_orders(spark, sf_dir):
    """Anti-join (U1 subtract shape): customers with NO high-value order.

    The synthetic generator gives every customer at least one order, so a
    bare "no orders at all" anti-join passes trivially on 0 rows; the
    o_totalprice > 300000 restriction makes the anti-join produce a
    non-empty result at every test SF while keeping the same left_anti
    plan shape (filter pushed into the build side before the join)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# contract functions
_EVAL_QUERIES = [(0, "spark merge window"), (1, "spark table"), (2, "hash join merge")]


def _eval_results_truth(corpus):
    """Shared eval harness: (results, truth) relations for _EVAL_QUERIES —
    BM25 any-mode top-50 ranking judged against exact all-terms-present
    relevance. One definition so the mAP and nDCG entries cannot drift.

    Both relations come from ONE batch-scorer pass (`score_queries` with
    with_hits=True): the any-mode scored relation carries (n_terms_hit,
    n_q), so truth = rows with every query term present — exactly the
    mode="all" row set the previous two-pass formulation computed, from
    the same fold. The scored relation (bounded: matching docs for the
    benchmark query set) is materialized once so the AP/nDCG windows and
    the truth join don't re-run the scorer per consumer, and their plans
    stay small (the two-subtree version cost ~2x the compute and several
    seconds of driver-side analysis per call).
    Ranking parity with the per-query path: score rounded to 9 dp first,
    rank = 0-based row_number under (score desc, doc_id asc) per query."""
    from wise_spark.query.naive import score_queries
    from wise_spark.query.search import ranked_per

    scored = (
        score_queries(corpus, _EVAL_QUERIES, mode="any", with_hits=True)
        .withColumn("score", F.round("score", 9))
        .localCheckpoint(eager=True)
    )
    results = ranked_per(scored.select("query_id", "doc_id", "score"), k=50).select(
        "query_id", "doc_id", "rank"
    )
    truth = scored.filter(F.col("n_terms_hit") == F.col("n_q")).select(
        "query_id", "doc_id"
    )
    return results, truth


def q_eval_map_bm25(spark, sf_dir):
    """Retrieval eval harness (reference retrieval_eval.py:29-68): per-query
    Average Precision of the BM25 any-mode top-50 ranking, judged against
    exact all-terms-present relevance."""
    from wise_spark.eval import average_precision

    results, truth = _eval_results_truth(_ft_corpus(spark, sf_dir))
    ap = average_precision(results, truth)
    return ap.select(
        "query_id", F.round("ap", 9).alias("ap"), "n_rel", "n_retrieved_rel"
    ).orderBy("query_id")


def q_eval_ndcg_bm25(spark, sf_dir):
    """nDCG@10 of the BM25 any-mode top-50 ranking, judged against exact
    all-terms-present relevance — same harness as eval_map_bm25, standard
    binary-relevance Järvelin-Kekäläinen DCG with the ideal DCG computed
    from the TOTAL relevant count (missing relevant items are penalized)."""
    from wise_spark.eval import ndcg_at_k

    results, truth = _eval_results_truth(_ft_corpus(spark, sf_dir))
    return (
        ndcg_at_k(results, truth, 10)
        .select("query_id", F.round("ndcg", 9).alias("ndcg"))
        .orderBy("query_id")
    )


def q_ann_lsh_recall(spark, sf_dir):
    """Recall@10 of LSH-bucketed cosine top-k vs exact cosine top-k, per
    query — the eval table the reference publishes for IVF vs exact
    (/root/reference/docs/Search-Index-Evaluation.md)."""
    from wise_spark.eval import recall_at_k
    from wise_spark.pipeline import cosine_topk, lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=10).select(
        "query_id", F.col("vec_id").alias("doc_id")
    )
    lsh = lsh_cosine_topk(emb, queries, k=10).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rank"
    )
    rec = recall_at_k(lsh, exact, 10)
    return rec.select(
        "query_id", F.round("recall", 6).alias("recall")
    ).orderBy("query_id")


def q_ann_ivf_recall(spark, sf_dir):
    """Recall@10 of IVF coarse-quantized cosine top-k vs exact — the same
    eval the reference publishes for its faiss IndexIVFFlat vs IndexFlatIP
    (/root/reference/docs/Search-Index-Evaluation.md). Seeded RANDOM unit
    centroids (data-independent) so the DuckDB oracle can inline the
    identical quantizer; the k-means-trained path is covered by
    test_pipeline.py recall assertions (training is data-dependent, so no
    SQL reconstruction exists for it)."""
    from wise_spark.eval import recall_at_k
    from wise_spark.pipeline import cosine_topk, ivf_centroids_random, ivf_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = ivf_centroids_random(64, 8, seed=7)
    exact = cosine_topk(emb, queries, k=10).select(
        "query_id", F.col("vec_id").alias("doc_id")
    )
    ivf = ivf_cosine_topk(
        emb, queries, k=10, n_lists=8, n_probe=3, centroids=cents
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    rec = recall_at_k(ivf, exact, 10)
    return rec.select(
        "query_id", F.round("recall", 6).alias("recall")
    ).orderBy("query_id")


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end inverted-index build + WAND top-k on sf0.001."""
    return q_ft_bm25_wand(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ft_bm25_topk_any": q_ft_bm25_topk_any,
        "ft_bm25_topk_all": q_ft_bm25_topk_all,
        "ft_bm25_wand": q_ft_bm25_wand,
        "ft_hydrate": q_ft_hydrate,
        "ft_page": q_ft_page,
        "disp_formats": q_disp_formats,
        "ft_bm25_wand_all": q_ft_bm25_wand_all,
        "ft_parsed_and": q_ft_parsed_and,
        "ft_phrase": q_ft_phrase,
        "ft_prefix": q_ft_prefix,
        "ft_near": q_ft_near,
        "ft_initial": q_ft_initial,
        "ft_phrase_fts5": q_ft_phrase_fts5,
        "ft_not_in": q_ft_not_in,
        "ft_and_merge": q_ft_and_merge,
        "ft_or_merge": q_ft_or_merge,
        "ft_corpus_stats": q_ft_corpus_stats,
        "ft_term_df": q_ft_term_df,
        "ft_doc_lengths": q_ft_doc_lengths,
        "ingest_extract_text": q_ingest_extract_text,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_minhash_signatures": q_dedup_minhash_signatures,
        "dedup_simhash": q_dedup_simhash,
        "ft_multi_target": q_ft_multi_target,
        "rel_modality_split": q_rel_modality_split,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_emb_neardup": q_dedup_emb_neardup,
        "meta_csv_import": q_meta_csv_import,
        "text_fingerprints": q_text_fingerprints,
        "text_quality": q_text_quality,
        "text_lang_guess": q_text_lang_guess,
        "text_token_stats": q_text_token_stats,
        "text_repetition": q_text_repetition,
        "text_winnow_fps": q_text_winnow_fps,
        "dedup_winnow_pairs": q_dedup_winnow_pairs,
        "url_canonical": q_url_canonical,
        "url_dup_groups": q_url_dup_groups,
        "url_domain_stats": q_url_domain_stats,
        "url_domain_sample": q_url_domain_sample,
        "dedup_decontaminate": q_dedup_decontaminate,
        "text_pii_stats": q_text_pii_stats,
        "text_line_dedup": q_text_line_dedup,
        "ann_cosine_topk": q_ann_cosine_topk,
        "mm_binary_metadata": q_mm_binary_metadata,
        "mm_decode_image_stats": q_mm_decode_image_stats,
        "rel_sessionize": q_rel_sessionize,
        "rel_tolerance_merge": q_rel_tolerance_merge,
        "rel_overlap_antijoin": q_rel_overlap_antijoin,
        "rel_overlap_join": q_rel_overlap_join,
        "rel_best_event_per_user": q_rel_best_event_per_user,
        "rel_ordered_lookup": q_rel_ordered_lookup,
        "emb_norms": q_emb_norms,
        "eval_map_bm25": q_eval_map_bm25,
        "eval_ndcg_bm25": q_eval_ndcg_bm25,
        "ann_lsh_recall": q_ann_lsh_recall,
        "ann_ivf_recall": q_ann_ivf_recall,
        "rel_pricing_summary": q_rel_pricing_summary,
        "rel_top_customers": q_rel_top_customers,
        "rel_customers_without_orders": q_rel_customers_without_orders,
    }


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}
    sqls["ft_bm25_topk_any"] = _bm25_topk_sql(_Q1, 50, "any")
    sqls["ft_bm25_topk_all"] = _bm25_topk_sql(_Q2, 50, "all")
    sqls["ft_bm25_wand"] = _bm25_topk_sql(_Q1, 50, "any")
    sqls["ft_bm25_wand_all"] = _bm25_topk_sql(_Q2, 50, "all")
    sqls["ft_page"] = f"""
WITH {_TOK_CTE}, {_bm25_score_cte(_Q1, "s")},
r AS (
  SELECT doc_id, round(score, 9) AS score,
         row_number() OVER (ORDER BY round(score, 9) DESC, doc_id ASC) - 1 AS rank
  FROM s
)
SELECT doc_id, score, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank >= 10 AND rank < 30 ORDER BY rank
"""
    sqls["disp_formats"] = """
WITH e AS (
  SELECT event_id, event_type, value * 1000.0 AS sec FROM events
  WHERE event_id < 200
),
p AS (
  SELECT event_id, event_type, sec,
         CAST(floor(sec / 3600) AS BIGINT) AS hh,
         sec - CAST(floor(sec / 3600) AS BIGINT) * 3600 AS ds1
  FROM e
),
q AS (
  SELECT event_id, event_type, hh,
         CAST(floor(ds1 / 60) AS BIGINT) AS mm,
         ds1 - CAST(floor(ds1 / 60) AS BIGINT) * 60 AS ds2
  FROM p
)
SELECT event_id,
       printf('%02d:%02d:%02d.%02d', hh, mm,
              CAST(floor(ds2) AS BIGINT),
              CAST(floor((ds2 - CAST(floor(ds2) AS BIGINT)) * 100) AS BIGINT)
       ) AS hhmmss,
       CASE WHEN length(event_type) > 4
            THEN '...' || right(event_type, 4) ELSE event_type
       END AS etype_clamped
FROM q ORDER BY event_id
"""
    sqls["ft_hydrate"] = f"""
WITH {_TOK_CTE}, {_bm25_score_cte(_Q1, "s")},
topk AS (
  SELECT doc_id, round(score, 9) AS score FROM s
  ORDER BY round(score, 9) DESC, doc_id ASC LIMIT 20
)
SELECT t.doc_id, d.source AS src, t.score
FROM topk t JOIN documents d USING (doc_id)
ORDER BY t.score DESC, t.doc_id ASC
"""
    sqls["ft_parsed_and"] = f"""
WITH {_TOK_CTE}, {_bm25_score_cte(["spark"], "sa")}, {_bm25_score_cte(["merge"], "sb")}
SELECT sa.doc_id, round(sa.score + sb.score, 9) AS score
FROM sa JOIN sb USING(doc_id)
ORDER BY round(sa.score + sb.score, 9) DESC, doc_id ASC LIMIT 50
"""
    sqls["ft_phrase"] = f"""
WITH {_TOK_CTE},
ph AS (
  SELECT doc_id, count(*) AS tf FROM (
    SELECT b.doc_id
    FROM (SELECT doc_id, {_TOK_SQL} AS toks FROM documents) b,
         UNNEST(range(0, len(toks) - 1)) AS r(i)
    WHERE toks[i + 1] = 'table' AND toks[i + 2] = 'hash'
  ) GROUP BY doc_id
),
phd AS (SELECT count(*) AS df FROM ph)
SELECT doc_id,
       round((CASE WHEN ln((st.n_docs - phd.df + 0.5)/(phd.df + 0.5)) <= 0
                   THEN 0.000001
                   ELSE ln((st.n_docs - phd.df + 0.5)/(phd.df + 0.5)) END)
             * (ph.tf * 2.2) / (ph.tf + 1.2 * (0.25 + 0.75 * dl.doclen / st.avgdl)),
             9) AS score
FROM ph JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN phd
ORDER BY score DESC, doc_id ASC LIMIT 40
"""
    sqls["ft_prefix"] = f"""
WITH {_TOK_CTE},
m AS (
  SELECT doc_id, count(*) AS tf FROM tok WHERE term LIKE 's%' GROUP BY doc_id
),
vd AS (SELECT count(*) AS df FROM m)
SELECT doc_id,
       round((CASE WHEN ln((st.n_docs - vd.df + 0.5)/(vd.df + 0.5)) <= 0
                   THEN 0.000001
                   ELSE ln((st.n_docs - vd.df + 0.5)/(vd.df + 0.5)) END)
             * (m.tf * 2.2) / (m.tf + 1.2 * (0.25 + 0.75 * dl.doclen / st.avgdl)),
             9) AS score
FROM m JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN vd
ORDER BY score DESC, doc_id ASC LIMIT 40
"""
    sqls["ft_phrase_fts5"] = f"""
WITH {_TOK_CTE},
ph AS (
  SELECT doc_id, count(*) AS tf FROM (
    SELECT b.doc_id
    FROM (SELECT doc_id, {_TOK_SQL} AS toks FROM documents) b,
         UNNEST(range(0, len(toks) - 1)) AS r(i)
    WHERE toks[i + 1] = 'hash' AND toks[i + 2] = 'join'
  ) GROUP BY doc_id
),
phd AS (SELECT count(*) AS df FROM ph)
SELECT doc_id,
       round((CASE WHEN ln((st.n_docs - phd.df + 0.5)/(phd.df + 0.5)) <= 0
                   THEN 0.000001
                   ELSE ln((st.n_docs - phd.df + 0.5)/(phd.df + 0.5)) END)
             * (ph.tf * 2.2) / (ph.tf + 1.2 * (0.25 + 0.75 * dl.doclen / st.avgdl)),
             9) AS score
FROM ph JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN phd
ORDER BY score DESC, doc_id ASC LIMIT 20
"""
    sqls["rel_ordered_lookup"] = """
WITH ranks(c_custkey, rank) AS (VALUES (30, 0), (5, 1), (12, 2), (1, 3), (44, 4))
SELECT c.c_custkey, c.c_name, CAST(r.rank AS INT) AS rank
FROM ranks r LEFT JOIN customer c USING (c_custkey)
ORDER BY r.rank
"""
    sqls["emb_norms"] = """
SELECT vec_id, label,
       round(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x), 'sum')), 6) AS l2_norm,
       CAST(len(embedding) AS INT) AS dim
FROM embeddings ORDER BY vec_id
"""
    sqls["ft_not_in"] = f"""
WITH {_TOK_CTE}, {_bm25_score_cte(["spark"], "s")}
SELECT doc_id, round(score, 9) AS score FROM s
WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE term = 'vector')
ORDER BY round(score, 9) DESC, doc_id ASC LIMIT 50
"""
    sqls["ft_and_merge"] = f"""
WITH {_TOK_CTE}, {_bm25_score_cte(["spark"], "sa")}, {_bm25_score_cte(["merge"], "sb")}
SELECT sa.doc_id, round(sa.score + sb.score, 9) AS score
FROM sa JOIN sb USING(doc_id)
ORDER BY round(sa.score + sb.score, 9) DESC, doc_id ASC LIMIT 50
"""
    sqls["ft_or_merge"] = f"""
WITH {_TOK_CTE}, {_bm25_score_cte(["spark"], "sa")}, {_bm25_score_cte(["vector"], "sb")},
u AS (SELECT doc_id, score FROM sa UNION ALL SELECT doc_id, score FROM sb)
SELECT doc_id, round(max(score), 9) AS score FROM u GROUP BY doc_id
ORDER BY round(max(score), 9) DESC, doc_id ASC LIMIT 50
"""
    sqls["ft_corpus_stats"] = f"""
SELECT count(*) AS n_docs,
       round(avg(len({_TOK_SQL})), 6) AS avgdl,
       CAST(sum(len({_TOK_SQL})) AS BIGINT) AS total_tokens
FROM documents
"""
    sqls["ft_term_df"] = f"""
WITH {_TOK_CTE}
SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok)
GROUP BY term ORDER BY df DESC, term ASC LIMIT 50
"""
    sqls["ft_doc_lengths"] = f"""
SELECT doc_id, CAST(len({_TOK_SQL}) AS BIGINT) AS doclen FROM documents
ORDER BY doc_id
"""
    sqls["ingest_extract_text"] = """
WITH t AS (
  SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS collapsed
  FROM documents WHERE doc_id < 500
)
SELECT doc_id,
       CASE WHEN collapsed = '' THEN 'Doc ' || CAST(doc_id AS VARCHAR)
            ELSE 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || collapsed
       END AS extracted
FROM t ORDER BY doc_id
"""
    sqls["dedup_exact"] = f"""
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keeper_doc_id
FROM {_DUP_SQL} d GROUP BY md5(text) HAVING count(*) > 1 ORDER BY text_hash
"""
    _SHINGLE_CTE = f"""
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           array_to_string(toks[i + 1 : i + 3], ' ') AS shingle
    FROM (SELECT doc_id, {_TOK_SQL} AS toks FROM {_DUP_SQL} dd) base,
         UNNEST(range(0, len(toks) - 2)) AS r(i)
    WHERE len(toks) >= 3
  )
)
"""
    sqls["dedup_ngram_jaccard"] = f"""
WITH {_SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(common / (sa.set_size + sb.set_size - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(common / (sa.set_size + sb.set_size - common), 6) >= 0.5
ORDER BY doc_a, doc_b
"""
    _h = lambda i: f"min(md5(shingle || ':{i}'))"
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(h{2*b} || '|' || h{2*b+1}) AS band_key FROM sig"
        for b in range(4)
    )
    sqls["dedup_minhash_lsh"] = f"""
WITH {_SHINGLE_CTE},
sig AS (
  SELECT doc_id, {", ".join(f"{_h(i)} AS h{i}" for i in range(8))}
  FROM sh GROUP BY doc_id
),
bands AS ({band_rows})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""
    bit_votes = ", ".join(
        "sum((2 * (CAST(floor((strpos('0123456789abcdef', substr(md5(term), {nib}, 1)) - 1) / {p}) AS BIGINT) % 2) - 1) * tf) AS s{i}".format(
            nib=i // 4 + 1, p=2 ** (i % 4), i=i
        )
        for i in range(64)
    )
    bit_concat = " || ".join(f"(CASE WHEN s{i} > 0 THEN '1' ELSE '0' END)" for i in range(64))
    sqls["dedup_simhash"] = f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents WHERE doc_id < 100
  ) GROUP BY doc_id, term
),
votes AS (SELECT doc_id, {bit_votes} FROM tf GROUP BY doc_id)
SELECT doc_id, {bit_concat} AS simhash FROM votes ORDER BY doc_id
"""
    _eq = {0: ["spark", "merge", "window"], 1: ["spark", "table"], 2: ["hash", "join", "merge"]}
    _eval_ctes = ", ".join(_bm25_score_cte(t, f"eq{i}").strip() for i, t in _eq.items())
    _res_u = " UNION ALL ".join(
        f"SELECT {i} AS query_id, doc_id, CAST(row_number() OVER (ORDER BY round(score,9) DESC, doc_id) - 1 AS BIGINT) AS rank "
        f"FROM (SELECT doc_id, score FROM eq{i} ORDER BY round(score,9) DESC, doc_id LIMIT 50)"
        for i in _eq
    )
    _truth_u = " UNION ALL ".join(
        f"SELECT {i} AS query_id, doc_id FROM eq{i} WHERE n_hit = {len(set(t))}"
        for i, t in _eq.items()
    )
    sqls["eval_map_bm25"] = f"""
WITH {_TOK_CTE}, {_eval_ctes},
res AS ({_res_u}),
truth AS ({_truth_u}),
rel AS (
  SELECT r.query_id, r.rank,
         CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS rel
  FROM res r LEFT JOIN truth t ON r.query_id = t.query_id AND r.doc_id = t.doc_id
),
w AS (
  SELECT query_id, rel,
         row_number() OVER (PARTITION BY query_id ORDER BY rank) AS k,
         sum(rel) OVER (PARTITION BY query_id ORDER BY rank ROWS UNBOUNDED PRECEDING) AS cum_rel
  FROM rel
),
perq AS (
  SELECT query_id, sum(rel * cum_rel / k) AS ap_num,
         CAST(sum(rel) AS BIGINT) AS n_retrieved_rel
  FROM w GROUP BY query_id
),
nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM truth GROUP BY query_id)
SELECT n.query_id, round(coalesce(p.ap_num, 0) / n.n_rel, 9) AS ap,
       n.n_rel, coalesce(p.n_retrieved_rel, 0) AS n_retrieved_rel
FROM nrel n LEFT JOIN perq p USING(query_id) ORDER BY query_id
"""
    sqls["eval_ndcg_bm25"] = f"""
WITH {_TOK_CTE}, {_eval_ctes},
res AS ({_res_u}),
truth AS ({_truth_u}),
rel AS (
  SELECT r.query_id, r.rank,
         CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS rel
  FROM res r LEFT JOIN truth t ON r.query_id = t.query_id AND r.doc_id = t.doc_id
),
w AS (
  SELECT query_id, rel,
         row_number() OVER (PARTITION BY query_id ORDER BY rank) AS k
  FROM rel
),
dcg AS (
  SELECT query_id, sum(rel / log2(k + 1)) AS dcg
  FROM w WHERE k <= 10 GROUP BY query_id
),
nrel AS (SELECT query_id, count(*) AS n_rel FROM truth GROUP BY query_id),
idcg AS (
  SELECT query_id, sum(1.0 / log2(i + 1)) AS idcg
  FROM (SELECT query_id, unnest(generate_series(1, least(10, n_rel))) AS i
        FROM nrel)
  GROUP BY query_id
)
SELECT n.query_id, round(coalesce(d.dcg, 0) / i.idcg, 9) AS ndcg
FROM nrel n JOIN idcg i USING(query_id) LEFT JOIN dcg d USING(query_id)
ORDER BY n.query_id
"""
    from wise_spark.pipeline.similarity import _hyperplanes
    _dvec = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    _sig_tables = []
    for _tb in range(4):
        _planes = _hyperplanes(64, 6, 7 + _tb)
        _bits = " || ".join(
            f"(CASE WHEN list_dot_product({_dvec}, {[float(x) for x in pl]!r}) >= 0 THEN '1' ELSE '0' END)"
            for pl in _planes
        )
        _sig_tables.append(
            f"SELECT vec_id, embedding, 't{_tb}:' || {_bits} AS bucket FROM embeddings"
        )
    _sig_sql = " UNION ALL ".join(_sig_tables)
    sqls["ann_lsh_recall"] = f"""
WITH sigs AS ({_sig_sql}),
qs AS (SELECT * FROM sigs WHERE vec_id < 5),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, i.vec_id,
         list_transform(q.embedding, x -> CAST(x AS DOUBLE)) AS qv,
         list_transform(i.embedding, x -> CAST(x AS DOUBLE)) AS iv
  FROM sigs i JOIN qs q ON i.bucket = q.bucket AND i.vec_id <> q.vec_id
),
scored AS (
  SELECT query_id, vec_id,
         round(list_dot_product(qv, iv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(iv, iv))), 6) AS cosine
  FROM cand
),
lsh AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
),
alld AS (
  SELECT q.vec_id AS query_id, i.vec_id,
         round(list_dot_product(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                                list_transform(i.embedding, x -> CAST(x AS DOUBLE))) /
               (sqrt(list_dot_product(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                                      list_transform(q.embedding, x -> CAST(x AS DOUBLE)))) *
                sqrt(list_dot_product(list_transform(i.embedding, x -> CAST(x AS DOUBLE)),
                                      list_transform(i.embedding, x -> CAST(x AS DOUBLE))))), 6) AS cosine
  FROM embeddings i, embeddings q
  WHERE q.vec_id < 5 AND i.vec_id <> q.vec_id
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
    FROM alld
  ) WHERE rk <= 10
)
SELECT e.query_id,
       round(CAST(count(l.vec_id) AS DOUBLE) / count(*), 6) AS recall
FROM exact e
LEFT JOIN (SELECT query_id, vec_id FROM lsh WHERE rk <= 10) l
  ON e.query_id = l.query_id AND e.vec_id = l.vec_id
GROUP BY e.query_id ORDER BY e.query_id
"""
    from wise_spark.pipeline.similarity import ivf_centroids_random
    _cents = ivf_centroids_random(64, 8, seed=7)
    _cent_rows = ",\n  ".join(
        f"({li}, {[float(x) for x in _cents[li]]!r})" for li in range(8)
    )
    # assignment/probe use PLAIN dot products: centroids are unit-norm, so
    # the cosine-nearest list is the dot-product argmax (ties -> lowest
    # list_id, min top1-top2 gap on this data >= 2.3e-5 — far above
    # double-summation noise, so numpy and DuckDB agree exactly)
    sqls["ann_ivf_recall"] = f"""
WITH cent(list_id, cv) AS (VALUES
  {_cent_rows}),
dv AS (SELECT vec_id, embedding,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec
       FROM embeddings),
asgn AS (
  SELECT vec_id, embedding, list_id FROM (
    SELECT e.vec_id, e.embedding, c.list_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_dot_product(e.dvec, c.cv) DESC,
                                       c.list_id) AS rn
    FROM dv e CROSS JOIN cent c
  ) WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, embedding, list_id FROM (
    SELECT e.vec_id, e.embedding, c.list_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_dot_product(e.dvec, c.cv) DESC,
                                       c.list_id) AS rn
    FROM dv e CROSS JOIN cent c WHERE e.vec_id < 5
  ) WHERE rn <= 3
),
cand AS (
  SELECT q.query_id, i.vec_id,
         list_transform(q.embedding, x -> CAST(x AS DOUBLE)) AS qv,
         list_transform(i.embedding, x -> CAST(x AS DOUBLE)) AS iv
  FROM asgn i JOIN qprobe q ON i.list_id = q.list_id AND i.vec_id <> q.query_id
),
scored AS (
  SELECT query_id, vec_id,
         round(list_dot_product(qv, iv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(iv, iv))), 6) AS cosine
  FROM cand
),
ivf AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
),
alld AS (
  SELECT q.vec_id AS query_id, i.vec_id,
         round(list_dot_product(q.dvec, i.dvec) /
               (sqrt(list_dot_product(q.dvec, q.dvec)) *
                sqrt(list_dot_product(i.dvec, i.dvec))), 6) AS cosine
  FROM dv i, dv q
  WHERE q.vec_id < 5 AND i.vec_id <> q.vec_id
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
    FROM alld
  ) WHERE rk <= 10
)
SELECT e.query_id,
       round(CAST(count(l.vec_id) AS DOUBLE) / count(*), 6) AS recall
FROM exact e
LEFT JOIN (SELECT query_id, vec_id FROM ivf WHERE rk <= 10) l
  ON e.query_id = l.query_id AND e.vec_id = l.vec_id
GROUP BY e.query_id ORDER BY e.query_id
"""
    sqls["meta_csv_import"] = """
WITH meta(metadata_id, filename, starttime, stoptime, tag) AS (VALUES
  ('m0', '0', '0:00:02', '0:00:09', 'intro'),
  ('m1', '1', '12.5', '200.0', 'speech'),
  ('m2', '2', '-1', '5', 'bad-negative-start'),
  ('m3', '3', '0:30:00', '0:31:00', 'start-past-limit'),
  ('m4', '4', '9', '3', 'stop-before-start'),
  ('m5', '99999999', '0', '1', 'missing-doc'),
  ('m6', '5', '0:00:00', '0:00:00', 'empty-range-ok'),
  ('m7', '6', '30', '0:01:40', 'mixed-formats')),
conv AS (
  SELECT metadata_id, CAST(filename AS BIGINT) AS doc_id,
         (CASE WHEN len(string_split(starttime, ':')) = 3 THEN CAST(string_split(starttime, ':')[1] AS DOUBLE)*3600 + CAST(string_split(starttime, ':')[2] AS DOUBLE)*60 + CAST(string_split(starttime, ':')[3] AS DOUBLE) WHEN len(string_split(starttime, ':')) = 2 THEN CAST(string_split(starttime, ':')[1] AS DOUBLE)*60 + CAST(string_split(starttime, ':')[2] AS DOUBLE) ELSE CAST(starttime AS DOUBLE) END) AS starttime,
         (CASE WHEN len(string_split(stoptime, ':')) = 3 THEN CAST(string_split(stoptime, ':')[1] AS DOUBLE)*3600 + CAST(string_split(stoptime, ':')[2] AS DOUBLE)*60 + CAST(string_split(stoptime, ':')[3] AS DOUBLE) WHEN len(string_split(stoptime, ':')) = 2 THEN CAST(string_split(stoptime, ':')[1] AS DOUBLE)*60 + CAST(string_split(stoptime, ':')[2] AS DOUBLE) ELSE CAST(stoptime AS DOUBLE) END) AS stoptime, tag
  FROM meta
)
SELECT c.metadata_id, c.doc_id, c.starttime, c.stoptime, c.tag
FROM conv c JOIN documents d ON c.doc_id = d.doc_id
WHERE c.starttime >= 0 AND c.starttime < d.n_chars AND c.stoptime >= c.starttime
ORDER BY metadata_id
"""
    sqls["dedup_simhash_pairs"] = f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, unnest({_TOK_SQL}) AS term FROM
      (SELECT doc_id, text FROM documents WHERE doc_id < 100 UNION ALL
       SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 20)
  ) GROUP BY doc_id, term
),
votes AS (SELECT doc_id, {bit_votes} FROM tf GROUP BY doc_id),
fp AS (SELECT doc_id, {bit_concat} AS simhash FROM votes)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash::BIT, b.simhash::BIT)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash::BIT, b.simhash::BIT)) <= 3
ORDER BY doc_a, doc_b
"""
    sqls["dedup_emb_neardup"] = """
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.45
ORDER BY vec_id_a, vec_id_b
"""
    _SHINGLE200 = _SHINGLE_CTE.replace(_DUP_SQL, "(SELECT doc_id, text FROM documents WHERE doc_id < 200)")
    sqls["dedup_minhash_signatures"] = f"""
WITH {_SHINGLE200}
SELECT doc_id, {", ".join(f"{_h(i)} AS h{i}" for i in range(8))}
FROM sh GROUP BY doc_id ORDER BY doc_id
"""
    sqls["text_fingerprints"] = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_TOK_SQL})), ' ')) AS bag_fingerprint,
       md5(text) AS exact_fingerprint
FROM documents ORDER BY doc_id
"""
    _SW = "('the','a','of','and','to','in','is','it','that','for')"
    # LEFT JOIN + zero-guard: Spark emits a row per DOCUMENT with NULL
    # ratios for zero-token docs (x/0 is NULL in Spark SQL); an inner
    # join/group over the token relation would silently drop those docs
    sqls["text_quality"] = f"""
WITH base AS (SELECT doc_id, text, {_TOK_SQL} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
agg AS (
  SELECT doc_id,
         count(DISTINCT term) AS nd,
         sum(length(term)) AS sl,
         sum(CASE WHEN term IN {_SW} THEN 1 ELSE 0 END) AS sw
  FROM tok GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(length(b.text) AS INT) AS n_chars_obs,
       CAST(len(b.toks) AS INT) AS n_tokens,
       CASE WHEN len(b.toks) = 0 THEN NULL
            ELSE round(CAST(a.nd AS DOUBLE) / len(b.toks), 6) END AS type_token_ratio,
       CASE WHEN len(b.toks) = 0 THEN NULL
            ELSE round(CAST(a.sl AS DOUBLE) / len(b.toks), 6) END AS mean_token_len,
       CASE WHEN len(b.toks) = 0 THEN NULL
            ELSE round(CAST(a.sw AS DOUBLE) / len(b.toks), 6) END AS stopword_ratio
FROM base b LEFT JOIN agg a USING(doc_id)
ORDER BY b.doc_id
"""
    sqls["text_lang_guess"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents),
agg AS (
  SELECT doc_id, count(*) AS n,
         sum(CASE WHEN term IN {_SW} THEN 1 ELSE 0 END) AS sw
  FROM tok GROUP BY doc_id
)
SELECT d.doc_id,
       round(CAST(a.sw AS DOUBLE) / a.n, 6) AS en_stopword_ratio,
       CASE WHEN CAST(a.sw AS DOUBLE) / a.n >= 0.05
            THEN 'en' ELSE 'unknown' END AS lang_guess
FROM documents d LEFT JOIN agg a USING(doc_id)
ORDER BY d.doc_id
"""
    sqls["text_token_stats"] = f"""
SELECT doc_id, CAST(len({_TOK_SQL}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({_TOK_SQL})) AS BIGINT) AS n_distinct
FROM documents ORDER BY doc_id
"""
    # Gopher-style repetition features; LEFT JOIN keeps docs with < n tokens
    # (NULL features), mirroring Spark's left join back to the docs relation
    def _rep_cte(n):
        grams = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
        return f"""
g{n} AS (
  SELECT doc_id, n_chars,
         unnest(list_transform(range(1, len(t) - {n - 2}), i -> {grams})) AS gram
  FROM base WHERE len(t) >= {n}
),
a{n} AS (
  SELECT doc_id,
         round(CAST(sum(cnt) - count(*) AS DOUBLE) / sum(cnt), 6)
             AS dup_{n}gram_frac,
         round(CAST(max(cnt * length(gram)) AS DOUBLE) / min(n_chars), 6)
             AS top_{n}gram_char_frac
  FROM (SELECT doc_id, n_chars, gram, count(*) AS cnt
        FROM g{n} GROUP BY 1, 2, 3)
  GROUP BY doc_id
)"""

    sqls["text_repetition"] = f"""
WITH base AS (
  SELECT doc_id, length(text) AS n_chars, {_TOK_SQL} AS t FROM documents
),{_rep_cte(2)},{_rep_cte(3)}
SELECT d.doc_id, a2.dup_2gram_frac, a2.top_2gram_char_frac,
       a3.dup_3gram_frac, a3.top_3gram_char_frac
FROM documents d
LEFT JOIN a2 USING(doc_id) LEFT JOIN a3 USING(doc_id)
ORDER BY d.doc_id
"""

    # winnowing fingerprints (k=4, w=4): rolling 4-gram md5-prefix hashes,
    # per-window min selected via a textual least() over w fixed offsets
    # (fixed-length lowercase hex: lexicographic min == numeric min in both
    # engines); mirrors pipeline.text.winnow_fingerprints exactly
    _K, _W = 4, 4
    _gram4 = " || ' ' || ".join(f"t[i+{j}]" for j in range(_K))
    _least4 = ", ".join(f"hs[i+{j}]" for j in range(_W))
    _WINNOW_CTE = f"""
base AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(t) - {_K - 2}),
                        i -> substr(md5({_gram4}), 1, 8)) AS hs
  FROM base WHERE len(t) >= {_K + _W - 1}
),
fps AS (
  SELECT doc_id,
         unnest(list_sort(list_distinct(
             list_transform(range(1, len(hs) - {_W - 2}),
                            i -> least({_least4}))))) AS fp
  FROM g
)"""
    sqls["text_winnow_fps"] = f"""
WITH {_WINNOW_CTE}
SELECT doc_id, fp FROM fps ORDER BY doc_id, fp
"""
    sqls["dedup_winnow_pairs"] = f"""
WITH {_WINNOW_CTE}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
ORDER BY doc_a, doc_b
"""

    # canonical-URL dedup: the raw-URL derivation mirrors _messy_urls; the
    # canonicalization chain mirrors wise_spark.pipeline.urls.canonicalize_url
    # (DuckDB regexp_replace needs the explicit 'g' flag where Spark's
    # replaces all matches by default)
    _RAW_URL_SQL = """
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END)
    || (CASE WHEN doc_id % 5 = 0 THEN 'WWW.'
             WHEN doc_id % 5 = 1 THEN 'www.' ELSE '' END)
    || source || '.example.com'
    || (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END)
    || '/docs/' || CAST(doc_id % 100 AS VARCHAR)
    || (CASE WHEN (doc_id % 100) % 2 <> 0 AND doc_id % 3 = 0
             THEN '/' ELSE '' END)
    || (CASE WHEN (doc_id % 100) % 2 = 0
             THEN '?id=' || CAST(doc_id % 100 AS VARCHAR)
                  || (CASE WHEN doc_id % 4 = 0
                           THEN '&utm_source=Feed' ELSE '' END)
             ELSE (CASE WHEN doc_id % 4 = 0
                        THEN '?utm_source=Feed' ELSE '' END) END)
    || (CASE WHEN doc_id % 6 = 0 THEN '#Sec2' ELSE '' END) AS raw_url
  FROM documents
"""
    from wise_spark.pipeline.urls import canonicalize_url_duckdb

    # single owner of the Spark<->DuckDB canonicalization contract
    _canon = canonicalize_url_duckdb("raw_url")

    sqls["url_canonical"] = f"""
WITH raw AS ({_RAW_URL_SQL})
SELECT doc_id, raw_url, {_canon} AS canon_url FROM raw ORDER BY doc_id
"""
    sqls["url_dup_groups"] = f"""
WITH raw AS ({_RAW_URL_SQL})
SELECT {_canon} AS canon_url, count(*) AS n_docs,
       min(doc_id) AS keeper_doc_id
FROM raw GROUP BY 1 HAVING count(*) > 1 ORDER BY canon_url
"""
    from wise_spark.pipeline.text import (
        PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE, PII_URL_RE,
    )

    _PII_TEXT_SQL = """
  SELECT doc_id, text
    || (CASE WHEN doc_id % 5 = 0 THEN ' contact user'
             || CAST(doc_id % 50 AS VARCHAR) || '@example.com now'
             ELSE '' END)
    || (CASE WHEN doc_id % 7 = 0 THEN ' server at 192.168.1.77 up'
             ELSE '' END)
    || (CASE WHEN doc_id % 11 = 0 THEN ' see https://example.com/p/'
             || CAST(doc_id % 100 AS VARCHAR) ELSE '' END)
    || (CASE WHEN doc_id % 13 = 0 THEN ' call +1 555 867-5309'
             ELSE '' END) AS text
  FROM documents
"""
    sqls["text_pii_stats"] = f"""
WITH pii AS ({_PII_TEXT_SQL})
SELECT doc_id,
  CAST(len(regexp_extract_all(lower(text), '{PII_EMAIL_RE}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(lower(text), '{PII_IPV4_RE}')) AS INTEGER) AS n_ipv4,
  CAST(len(regexp_extract_all(lower(text), '{PII_URL_RE}')) AS INTEGER) AS n_urls,
  CAST(len(regexp_extract_all(lower(text), '{PII_PHONE_RE}')) AS INTEGER) AS n_phones
FROM pii ORDER BY doc_id
"""
    sqls["dedup_decontaminate"] = f"""
WITH corpus AS (SELECT doc_id, text FROM {_DUP_SQL} dd WHERE doc_id >= 20),
probes AS (SELECT doc_id AS probe_id, text FROM documents WHERE doc_id < 20),
shc AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, array_to_string(toks[i + 1 : i + 3], ' ') AS shingle
    FROM (SELECT doc_id, {_TOK_SQL} AS toks FROM corpus) base,
         UNNEST(range(0, len(toks) - 2)) AS r(i)
    WHERE len(toks) >= 3
  )
),
shp AS (
  SELECT DISTINCT probe_id, shingle FROM (
    SELECT probe_id, array_to_string(toks[i + 1 : i + 3], ' ') AS shingle
    FROM (SELECT probe_id, {_TOK_SQL} AS toks FROM probes) base,
         UNNEST(range(0, len(toks) - 2)) AS r(i)
    WHERE len(toks) >= 3
  )
)
SELECT c.doc_id, p.probe_id, CAST(count(*) AS BIGINT) AS shared_shingles
FROM shc c JOIN shp p USING (shingle)
GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY doc_id, probe_id
"""
    sqls["ft_near"] = f"""
WITH {_TOK_CTE},
base AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
pos AS (SELECT doc_id, i AS p, toks[i+1] AS term
        FROM base, UNNEST(range(0, len(toks))) AS r(i)),
pa AS (SELECT doc_id, p FROM pos WHERE term = 'spark'),
pb AS (SELECT doc_id, p FROM pos WHERE term = 'merge'),
dfa AS (SELECT count(DISTINCT doc_id) AS df FROM pa),
dfb AS (SELECT count(DISTINCT doc_id) AS df FROM pb),
ntfa AS (
  SELECT doc_id, count(*) AS ntf FROM (
    SELECT DISTINCT a.doc_id, a.p FROM pa a
    JOIN pb b ON a.doc_id = b.doc_id AND abs(a.p - b.p) - 1 <= 5
  ) GROUP BY doc_id
),
ntfb AS (
  SELECT doc_id, count(*) AS ntf FROM (
    SELECT DISTINCT b.doc_id, b.p FROM pb b
    JOIN pa a ON a.doc_id = b.doc_id AND abs(a.p - b.p) - 1 <= 5
  ) GROUP BY doc_id
)
SELECT na.doc_id,
       round((CASE WHEN ln((st.n_docs - dfa.df + 0.5)/(dfa.df + 0.5)) <= 0
                   THEN 0.000001
                   ELSE ln((st.n_docs - dfa.df + 0.5)/(dfa.df + 0.5)) END)
             * (na.ntf * 2.2) / (na.ntf + 1.2 * (0.25 + 0.75 * dl.doclen / st.avgdl))
           + (CASE WHEN ln((st.n_docs - dfb.df + 0.5)/(dfb.df + 0.5)) <= 0
                   THEN 0.000001
                   ELSE ln((st.n_docs - dfb.df + 0.5)/(dfb.df + 0.5)) END)
             * (nb.ntf * 2.2) / (nb.ntf + 1.2 * (0.25 + 0.75 * dl.doclen / st.avgdl)),
             9) AS score
FROM ntfa na JOIN ntfb nb USING (doc_id) JOIN dl USING (doc_id)
CROSS JOIN st CROSS JOIN dfa CROSS JOIN dfb
ORDER BY score DESC, doc_id ASC LIMIT 40
"""
    sqls["ft_initial"] = f"""
WITH {_TOK_CTE},
m AS (
  SELECT doc_id, 1 AS tf FROM (SELECT doc_id, {_TOK_SQL} AS toks FROM documents)
  WHERE len(toks) > 0 AND toks[1] = 'customer'
),
vd AS (SELECT count(*) AS df FROM m)
SELECT doc_id,
       round((CASE WHEN ln((st.n_docs - vd.df + 0.5)/(vd.df + 0.5)) <= 0
                   THEN 0.000001
                   ELSE ln((st.n_docs - vd.df + 0.5)/(vd.df + 0.5)) END)
             * (m.tf * 2.2) / (m.tf + 1.2 * (0.25 + 0.75 * dl.doclen / st.avgdl)),
             9) AS score
FROM m JOIN dl USING(doc_id) CROSS JOIN st CROSS JOIN vd
ORDER BY score DESC, doc_id ASC LIMIT 40
"""
    sqls["text_line_dedup"] = """
WITH src AS (
  SELECT doc_id, concat_ws(chr(10),
    CASE WHEN doc_id % 2 = 0 THEN 'accept all cookies and continue' END,
    text,
    CASE WHEN doc_id % 3 = 0
         THEN 'copyright example dot com all rights reserved' END) AS text
  FROM documents
),
lines AS (
  SELECT doc_id, i AS pos, ls[i + 1] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src),
       UNNEST(range(0, len(ls))) AS r(i)
),
nb AS (SELECT * FROM lines WHERE length(trim(line)) > 0),
dup AS (
  SELECT line FROM (
    SELECT line, count(*) AS df
    FROM (SELECT DISTINCT doc_id, line FROM nb) GROUP BY line
  ) WHERE df >= 5
),
kept AS (SELECT * FROM nb WHERE line NOT IN (SELECT line FROM dup))
SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
FROM kept GROUP BY doc_id ORDER BY doc_id
"""
    from wise_spark.pipeline.urls import HOST_RE as HOST_RE_SQL

    sqls["url_domain_stats"] = f"""
WITH raw AS (
  SELECT r.doc_id, r.raw_url, d.text
  FROM ({_RAW_URL_SQL}) r JOIN documents d USING (doc_id)
),
per_doc AS (
  SELECT
    NULLIF(regexp_replace(
      regexp_extract(lower(raw_url), '{HOST_RE_SQL}', 1),
      '^www[.]', '', ''), '') AS host,
    CAST(len({_TOK_SQL}) AS BIGINT) AS n_toks,
    {_canon} AS canon
  FROM raw
)
SELECT host, n_docs, n_tokens,
       CAST((n_tokens * 1000000) // n_docs AS BIGINT) AS avg_tokens_ppm,
       n_canonical_urls
FROM (
  SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical_urls
  FROM per_doc GROUP BY host
) ORDER BY host
"""
    sqls["url_domain_sample"] = f"""
WITH raw AS ({_RAW_URL_SQL}),
hosted AS (
  SELECT doc_id,
    NULLIF(regexp_replace(
      regexp_extract(lower(raw_url), '{HOST_RE_SQL}', 1),
      '^www[.]', '', ''), '') AS host
  FROM raw
),
ranked AS (
  SELECT host, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id)
              AS INTEGER) AS rank_in_host
  FROM hosted
)
SELECT host, rank_in_host, doc_id FROM ranked
WHERE rank_in_host <= 3 ORDER BY host, rank_in_host
"""
    sqls["ann_cosine_topk"] = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(
             CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
),
rk AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM rk WHERE rank <= 10
ORDER BY query_id, rank
"""
    sqls["mm_binary_metadata"] = """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_size,
       md5(text) AS checksum, to_base64(encode(text)) AS payload_b64
FROM documents ORDER BY doc_id
"""
    # the BMP payload is a closed form of doc_id (see q_mm_decode_image_stats),
    # so the oracle predicts the decoder's output without decoding anything
    sqls["mm_decode_image_stats"] = """
SELECT doc_id,
       CAST(3 + doc_id % 13 AS INT)  AS width,
       CAST(1 + doc_id % 7 AS INT)   AS height,
       CAST(3 AS INT)                AS channels,
       CAST((3 + doc_id % 13) * (1 + doc_id % 7) * 3 * (doc_id % 251) AS BIGINT)
           AS sum_px,
       CAST((3 + doc_id % 13) * (1 + doc_id % 7) * 3 * (doc_id % 251) AS DOUBLE)
           / ((3 + doc_id % 13) * (1 + doc_id % 7) * 3) AS mean_px
FROM documents ORDER BY doc_id
"""
    _SRC_BM25 = """
tok2 AS (SELECT doc_id, unnest(regexp_extract_all(lower(source), '[a-z0-9]+')) AS term FROM documents),
dl2 AS (SELECT doc_id, count(*) AS doclen FROM tok2 GROUP BY doc_id),
st2 AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
               (SELECT avg(len(regexp_extract_all(lower(source), '[a-z0-9]+'))) FROM documents) AS avgdl),
s2_tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok2 WHERE term IN ('spark','src5')
  GROUP BY doc_id, term
),
s2_df AS (SELECT term, count(*) AS df FROM s2_tf GROUP BY term),
s2 AS (
  SELECT t.doc_id,
         sum((CASE WHEN ln((st2.n_docs - d.df + 0.5)/(d.df + 0.5)) <= 0
                   THEN 0.000001
                   ELSE ln((st2.n_docs - d.df + 0.5)/(d.df + 0.5)) END)
             * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * dl2.doclen / st2.avgdl))
         ) AS score
  FROM s2_tf t JOIN s2_df d USING(term)
       JOIN dl2 USING(doc_id) CROSS JOIN st2
  GROUP BY t.doc_id
)"""
    sqls["ft_multi_target"] = f"""
WITH {_TOK_CTE}, {_bm25_score_cte(["spark", "src5"], "s1")}, {_SRC_BM25}
SELECT doc_id, round(max(score), 9) AS score FROM (
  SELECT doc_id, score FROM s1
  UNION ALL SELECT doc_id, score FROM s2
) GROUP BY doc_id
ORDER BY round(max(score), 9) DESC, doc_id ASC LIMIT 50
"""
    sqls["rel_modality_split"] = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang ORDER BY lang
"""
    sqls["rel_sessionize"] = """
WITH e AS (
  SELECT user_id, epoch(ts) AS tsd,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                   OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
              THEN 1 ELSE 0 END AS new_flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, tsd,
         sum(new_flag) OVER (PARTITION BY user_id ORDER BY tsd
                             ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM e
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
       CAST(floor(min(tsd)) AS BIGINT) AS start_s,
       CAST(floor(max(tsd)) AS BIGINT) AS end_s,
       CAST(floor(max(tsd) - min(tsd)) AS BIGINT) AS duration_s
FROM s GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""
    sqls["rel_tolerance_merge"] = """
WITH r AS (
  SELECT user_id, epoch(ts) AS tsd, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rank
  FROM events
),
e AS (
  SELECT user_id, tsd, value, rank,
         CASE WHEN lag(tsd) OVER w IS NULL
                   OR tsd - lag(tsd) OVER w > 600.0
                   OR abs(rank - lag(rank) OVER w) > 5
              THEN 1 ELSE 0 END AS new_flag
  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY tsd, rank)
),
g AS (
  SELECT user_id, tsd, value, rank,
         sum(new_flag) OVER (PARTITION BY user_id ORDER BY tsd
                             ROWS UNBOUNDED PRECEDING) - 1 AS merge_id
  FROM e
)
SELECT user_id, CAST(merge_id AS BIGINT) AS merge_id, count(*) AS n_hits,
       CAST(floor(min(tsd)) AS BIGINT) AS start_s,
       CAST(floor(max(tsd)) AS BIGINT) AS end_s,
       CAST(min(rank) AS BIGINT) AS best_rank,
       round(max(value), 6) AS best_score
FROM g GROUP BY user_id, merge_id
ORDER BY user_id, merge_id
"""
    sqls["rel_overlap_antijoin"] = """
WITH e AS (SELECT event_id, user_id, event_type, epoch(ts) AS tsd FROM events)
SELECT event_id, user_id, event_type FROM e a
WHERE NOT EXISTS (
  SELECT 1 FROM e b
  WHERE b.event_type = 'error' AND b.user_id = a.user_id
    AND a.tsd <= b.tsd + 120.0 AND b.tsd - 120.0 <= a.tsd + 60.0
)
ORDER BY event_id
"""
    sqls["rel_overlap_join"] = """
WITH e AS (SELECT event_id, user_id, event_type, epoch(ts) AS tsd FROM events)
SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
FROM e a JOIN e b
  ON b.user_id = a.user_id AND b.event_type = 'error'
 AND a.tsd <= b.tsd + 120.0 AND b.tsd - 120.0 <= a.tsd + 60.0
ORDER BY a_id, b_id
"""
    sqls["rel_best_event_per_user"] = """
SELECT user_id, event_id, round(value, 6) AS value FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1 ORDER BY user_id
"""
    sqls["rel_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS sum_disc_price,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
    sqls["rel_top_customers"] = """
WITH rev AS (
  SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_name, rev.revenue, rev.n_orders
FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
ORDER BY revenue DESC, c.c_custkey ASC LIMIT 20
"""
    sqls["rel_customers_without_orders"] = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
ORDER BY c_custkey
"""
    return sqls
