"""Naive exact BM25 scorer — pure DataFrame ops, no index.

Reference analog: the exhaustive faiss IndexFlatIP path that the reference
keeps as its correctness topline (/root/reference/src/index/
feature_search_index.py:47-52; docs/Search-Index-Evaluation.md row "Naive").
Every indexed scorer (WAND) must be rank-identical to this, which in turn is
rank-identical to the pandas + FTS5 oracles.

Plan shape (all Catalyst-optimizable, single shuffle on doc_id):
    docs -> tokenize pandas_udf -> explode -> groupBy(doc_id, term) tf
         -> filter(term IN query)            [pushed ahead of the agg by us]
         -> broadcast-join df/idf stats -> deterministic-order score fold
         -> TakeOrderedAndProject(k)

Determinism contract (SURVEY.md section 7, hard part 1): per-document score
sums contributions in sorted-term order via a sort_array + aggregate fold,
so float results do not depend on row arrival order; ties break ascending
doc_id.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType

from ..analyzer import tokenize_text
from ..analyzer.tokenizer import term_counts_udf
from ..pipeline.text import rebalance_narrow_scan
from ..session import local_rows_df
from .bm25 import SCORE_SCHEMA, idf_col, tf_component_col


def _tf_relation(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, term, tf, doclen) — one row per distinct (doc, term), built
    MAP-SIDE: term frequencies are purely doc-local, so the Arrow kernel
    counts them inside the batch and no per-token row ever reaches an
    exchange (the old explode -> groupBy(doc_id, term) shuffled one row per
    raw token — the single most expensive step of the naive scorer).

    Keeps ONE null-term row per empty-token doc (explode_outer) so exact
    N/avgdl fall out of the same relation. doclen counts ALL tokens (FTS5
    column-size semantics)."""
    from pyspark.sql import types as T

    id_type = docs.schema[id_col].dataType
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        # the bare cast below would ANSI-crash on non-numeric ids (or, with
        # ANSI off, silently NULL every id and merge all docs into one row)
        raise TypeError(
            f"naive scorer requires an integral id column; {id_col!r} is "
            f"{id_type.simpleString()} — map string ids to longs first (the "
            "index path encodes doc ids as varbyte longs too)"
        )
    # single-row-group sources would otherwise run the whole Arrow tokenize
    # kernel on one core (see rebalance_narrow_scan) — no-op on wide scans
    tc = rebalance_narrow_scan(docs).select(
        F.col(id_col).cast("long").alias("doc_id"),
        term_counts_udf()(F.col(text_col)).alias("tc"),
    )
    return tc.select(
        "doc_id",
        F.col("tc.doclen").alias("doclen"),
        F.explode_outer("tc.counts").alias("kv"),
    ).select(
        "doc_id",
        F.col("kv.term").alias("term"),
        F.col("kv.tf").cast("long").alias("tf"),
        "doclen",
    )


def tokens_with_tf(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf, doclen) — one row per distinct (doc, term).

    Map-side tf (see _tf_relation) — no shuffle at all.
    """
    return _tf_relation(docs, id_col, text_col).filter(F.col("term").isNotNull())


@dataclass
class TokenizedCorpus:
    """Reusable tokenization + exact corpus stats (N, avgdl are EXACT)."""

    tf: DataFrame  # (doc_id, term, tf, doclen)
    n_docs: int
    avgdl: float
    # the relation .cache() was called on (tf is a filter over it); kept so
    # a holder can release executor storage when the corpus is superseded
    cached: DataFrame | None = None

    def unpersist(self) -> None:
        """Release the cached tf relation (no-op if built with cache=False)."""
        if self.cached is not None:
            self.cached.unpersist()

    @classmethod
    def build(
        cls,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        cache: bool = False,
    ) -> "TokenizedCorpus":
        # ONE tokenize pass, tf counted MAP-SIDE in the Arrow kernel (no
        # explode -> groupBy(doc_id, term) token shuffle); explode_outer
        # keeps a null-term row per empty-token doc, so exact N/avgdl fall
        # out of the same relation that serves queries — and the stats
        # action below is what materializes the cache, so queries never
        # re-run the tokenizer
        # Cached layout is sorted by (term, doc_id) WITHIN each partition:
        # the in-memory columnar cache keeps min/max stats per batch, so a
        # query's `term IN (...)` filter skips every batch whose term range
        # cannot match (guide §6 "predicate pushdown must reach the scan",
        # applied to the cache). No extra shuffle — the sort is
        # partition-local — and row order is immaterial to every consumer
        # (the score fold re-sorts per doc; aggregations are unordered).
        # Measured at sf0.1: per-query scan stage 0.9-1.0 s -> ~0.15 s.
        tf_all = _tf_relation(docs, id_col, text_col).sortWithinPartitions(
            "term", "doc_id"
        )
        if cache:
            tf_all = tf_all.cache()
        row = (
            tf_all.groupBy("doc_id").agg(F.first("doclen").alias("doclen"))
            .agg(F.count(F.lit(1)).alias("n"), F.avg("doclen").alias("avgdl"))
            .collect()[0]
        )
        tf = tf_all.filter(F.col("term").isNotNull())
        return cls(tf=tf, n_docs=int(row["n"]),
                   avgdl=float(row["avgdl"] or 0.0),
                   cached=tf_all if cache else None)


def _deterministic_score(
    contrib_df: DataFrame, keys: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """groupBy(*keys) summing contributions in sorted-term order (float64)."""
    folded = (
        contrib_df.groupBy(*keys)
        .agg(
            F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("cs"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .withColumn(
            "score",
            F.aggregate(
                "cs", F.lit(0.0).cast(DoubleType()), lambda acc, x: acc + x["contrib"]
            ),
        )
    )
    return folded.select(*keys, "score", "n_terms_hit")


def score_query(corpus: TokenizedCorpus, query: str, mode: str = "all") -> DataFrame:
    """All matching docs scored: (doc_id, score), unsorted."""
    terms = sorted(set(tokenize_text(query)))
    spark = corpus.tf.sparkSession
    if not terms:
        return local_rows_df(spark, [], SCORE_SCHEMA)
    hits = corpus.tf.filter(F.col("term").isin(terms))
    # exact df per query term; tiny (<= |terms| rows) -> broadcast
    dfs = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        hits.join(F.broadcast(dfs), "term")
        .withColumn(
            "contrib",
            idf_col(F.col("df").cast("double"), corpus.n_docs)
            * tf_component_col(
                F.col("tf").cast("double"),
                F.col("doclen").cast("double"),
                F.lit(corpus.avgdl),
            ),
        )
        .select("doc_id", "term", "contrib")
    )
    scored = _deterministic_score(contrib)
    if mode == "all":
        scored = scored.filter(F.col("n_terms_hit") == len(terms))
    return scored.select("doc_id", "score")


def score_queries(
    corpus: TokenizedCorpus, queries, mode: str = "all", with_hits: bool = False
) -> DataFrame:
    """Batch scorer: MANY queries in ONE pass over the tf relation —
    (query_id, doc_id, score), per-query rank-identical to `score_query`
    (same exact df stats, same sorted-term deterministic fold).

    `with_hits=True` additionally exposes (n_terms_hit, n_q) so ONE
    any-mode pass can serve both a ranking and an all-terms-present truth
    set (truth = rows with n_terms_hit == n_q — exactly the mode="all"
    row set, same scores): callers that need both relations score the
    corpus once instead of twice.

    `queries` is an iterable of (query_id, query_text). The reference
    evaluates its whole query set as one similarity-matrix pass
    (/root/reference/scripts/eval/EpicKitchens-100/retrieval_eval.py:29-68);
    this is the relational analog: the query->term relation (sum of
    per-query distinct terms — driver-tiny even for thousands of queries)
    BROADCASTS into the term-pruned tf scan, so Q queries cost ONE scan and
    ONE (query_id, doc_id) exchange instead of Q separate plans. A term
    shared by many queries fans out map-side after the broadcast join —
    the score-fold reducer keys stay (query_id, doc_id), never skewed."""
    rows = []
    seen_qids = set()
    for qid, q in queries:
        qid = int(qid)
        if qid in seen_qids:
            raise ValueError(
                f"duplicate query_id {qid}: each (query_id, text) must be "
                "unique — a repeated id would double-count shared terms"
            )
        seen_qids.add(qid)
        for t in sorted(set(tokenize_text(q))):
            rows.append((qid, t))
    spark = corpus.tf.sparkSession
    if not rows:
        return local_rows_df(spark, [], "query_id long, " + SCORE_SCHEMA)
    from collections import Counter

    n_terms = Counter(qid for qid, _ in rows)
    # local_rows_df, not createDataFrame: this relation is the broadcast
    # side of the scorer join, and a Python-RDD-backed frame turns every
    # broadcast materialization into a cluster-width Python worker stage
    qt = local_rows_df(
        spark,
        [(qid, t, n_terms[qid]) for qid, t in rows],
        "query_id long, term string, n_q long",
    )
    all_terms = sorted({t for _, t in rows})
    hits = corpus.tf.filter(F.col("term").isin(all_terms))
    # exact df per matched term; tiny (<= |distinct terms| rows) -> broadcast
    dfs = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        hits.join(F.broadcast(dfs), "term")
        .join(F.broadcast(qt), "term")
        .withColumn(
            "contrib",
            idf_col(F.col("df").cast("double"), corpus.n_docs)
            * tf_component_col(
                F.col("tf").cast("double"),
                F.col("doclen").cast("double"),
                F.lit(corpus.avgdl),
            ),
        )
        .select("query_id", "n_q", "doc_id", "term", "contrib")
    )
    scored = _deterministic_score(contrib, keys=("query_id", "n_q", "doc_id"))
    if mode == "all":
        scored = scored.filter(F.col("n_terms_hit") == F.col("n_q"))
    if with_hits:
        return scored.select("query_id", "doc_id", "score", "n_terms_hit", "n_q")
    return scored.select("query_id", "doc_id", "score")


def naive_topk(
    docs_or_corpus,
    query: str,
    k: int = 10,
    mode: str = "all",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exhaustive top-k: (doc_id, score) ordered (score desc, doc_id asc).

    The global top-k is a TakeOrderedAndProject (limit pushdown), the analog
    of the reference's pagination cap (/root/reference/api/routes.py:1216).
    """
    corpus = (
        docs_or_corpus
        if isinstance(docs_or_corpus, TokenizedCorpus)
        else TokenizedCorpus.build(docs_or_corpus, id_col, text_col)
    )
    return (
        score_query(corpus, query, mode)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
