"""FtsIndex: load a built index and execute top-k BM25 queries.

Query lifecycle (SURVEY.md section 3.4): driver tokenizes the query with the
SAME analyzer as the build side, looks up exact df for the query terms from
the range-partitioned terms table (parquet min/max pruning on `term`), then
reads only the query terms' segment rows (predicate pushdown into the scan)
and runs the per-shard scoring kernel via mapInPandas; the global result is
a tiny TakeOrderedAndProject over per-shard top-k heaps. `topk_many` scores
a batch of queries in one such job and merges the heaps on the driver.

Scale notes: the segments scan touches only the query terms' posting rows —
for a 3-term query over 10^12 docs that is 3 * n_shards rows regardless of
corpus size; df/avgdl stats ship to executors as broadcast-sized closure
values (a handful of floats), the analog of the reference broadcasting its
corpus stats implicitly inside FTS5.
"""

from __future__ import annotations

import os
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analyzer import tokenize_text
from ..query.bm25 import SCORE_SCHEMA, idf_scalar
from ..session import local_rows_df
from .build import IndexMeta, _concat_batches, _parquet_footer_stats
from .wand import score_shard_taat, score_shard_wand


def _shard_phrase_occurrences(rows: dict, seq: list[str], prune: bool = True,
                              decoded_cache: dict | None = None):
    """Vectorized exact-phrase scan over ONE shard's {term: segment row}.

    Returns (occ_doc, occ_start, doc_ids, doc_tf, doc_len) — occurrence
    arrays sorted by (doc, start), per-doc aggregates sorted by doc — or
    None when the shard has no full match. Two-stage (prune=True):
    postings-only rarest-term intersection first, then positions decoded
    ONLY for intersection docs (codec.decode_positions_subset) — the
    phrase analog of WAND's rarest-term bounding. prune=False keeps the
    single-stage full-decode path for A/B identity tests."""
    import numpy as np

    from .codec import decode_positions_subset, decode_postings

    if any(t not in rows for t in seq):
        return None
    uniq = sorted(set(seq))
    # stage 1: postings-only candidate intersection, smallest list first so
    # the running set collapses as early as possible (ids are sorted unique
    # within a shard list)
    # decoded_cache lets one caller (NEAR: two phrases sharing terms) pay
    # each term's postings decode once per shard instead of once per phrase
    cache = decoded_cache if decoded_cache is not None else {}
    for t in uniq:
        if t not in cache:
            cache[t] = decode_postings(rows[t])
    decoded = {t: cache[t] for t in uniq}
    docs = None
    for t in sorted(uniq, key=lambda t: decoded[t][0].size):
        docs = decoded[t][0] if docs is None else np.intersect1d(
            docs, decoded[t][0], assume_unique=True)
        if docs.size == 0:
            break
    if docs.size == 0:
        return None
    ids0, _, dls0 = decoded[seq[0]]
    # doc_ids are int64 (10^12-doc target: ids exceed 2^31, so
    # ids * 2^32 + pos would overflow int64). Key on LOCAL dense codes in
    # term 0's sorted list — every candidate is in it, so the composite
    # (code, pos) key always fits: code < |list_0| < 2^31, pos < 2^32.
    keys = None
    for i, t in enumerate(seq):
        ids, tfs, _ = decoded[t]
        if prune:
            idx = np.searchsorted(docs, ids)
            idx_c = np.minimum(idx, docs.size - 1)
            keep = docs[idx_c] == ids
        else:
            keep = np.ones(ids.size, dtype=bool)
        # stage 2: candidate-bounded position decode
        pos = decode_positions_subset(bytes(rows[t]["positions"]), tfs, keep)
        kids, ktfs = ids[keep], tfs[keep]
        # ids0 is non-empty here: stage 1 returned unless the intersection
        # (which includes seq[0]'s list) is non-empty
        c = np.minimum(np.searchsorted(ids0, kids), ids0.size - 1)
        valid = ids0[c] == kids
        vmask = np.repeat(valid, ktfs) & (pos >= i)
        k = (np.repeat(c, ktfs)[vmask] << np.int64(32)) + pos[vmask] - i
        keys = k if keys is None else np.intersect1d(
            keys, k, assume_unique=True)
        if keys.size == 0:
            return None
    if keys is None or keys.size == 0:
        return None
    code = (keys >> 32).astype(np.int64)
    occ_doc = ids0[code]
    occ_start = (keys & np.int64(0xFFFFFFFF)).astype(np.int64)
    uniq_code, counts = np.unique(code, return_counts=True)
    return (
        occ_doc,
        occ_start,
        ids0[uniq_code],
        counts.astype(np.int64),
        # doclen via the same local code (every match contains term 0)
        dls0[uniq_code],
    )


# Serving-mode size guards: above these, cache=True silently degrades to the
# pruned-scan path for that piece (a 10^9-term vocabulary dict or a
# multi-TB segment set must never be pinned wholesale; queries stay exact
# either way, the cache is purely a latency optimization).
DF_CACHE_MAX_TERMS = 5_000_000          # ~100s of MB of driver heap
SEGMENT_CACHE_MAX_BYTES = 8 << 30       # executor storage-memory budget

# the (doc_id, tf, doclen) virtual-term matches the phrase/prefix/initial
# scans emit
MATCH_SCHEMA = "doc_id long, tf long, doclen long"


class FtsIndex:
    def __init__(
        self, spark: SparkSession, index_dir: str, meta: IndexMeta, cache: bool = False
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.meta = meta
        # `wave` is a build-bookkeeping partition column (one dir per build
        # wave, atomic-rename publish unit) — queries never prune on it
        self._segments = spark.read.parquet(
            os.path.join(index_dir, "segments")
        ).drop("wave")
        self._terms = spark.read.parquet(os.path.join(index_dir, "terms"))
        self._df_cache: dict[str, int] | None = None
        self._cached_by_shard = False
        # per-query scoring parallelism: enough tasks to spread shards, few
        # enough that task/python-worker overhead stays off the latency
        # path; computed ONCE — the serving cache repartition below must
        # use the same count or cached partitioning and query planning
        # silently diverge
        self._query_partitions = max(
            2, min(meta.n_shards, spark.sparkContext.defaultParallelism)
        )
        # every scoring kernel uses the engine-wide FTS5 constants
        # (query/bm25.py K1/B) — refuse an index whose metadata claims
        # different parameters rather than silently scoring with defaults
        from .. import B, K1

        if (meta.k1, meta.b) != (K1, B):
            raise ValueError(
                f"index meta claims k1={meta.k1}, b={meta.b} but this engine "
                f"scores with the FTS5 constants k1={K1}, b={B}; rebuild the "
                "index metadata or change wise_spark.K1/B"
            )
        if cache:
            # serving mode: pin segments in executor memory (the reference
            # copies its hot index to :memory: the same way,
            # /root/reference/src/index/sqlite_search_index.py:94-98) and the
            # term->df stats in DRIVER memory (read via pyarrow, no Spark
            # job) so each query costs exactly one Spark job. Both pins are
            # SIZE-GUARDED from parquet footers (no data read): an index too
            # big to pin falls back to the pruned-scan path, exact either way.
            seg_rows, seg_bytes = _parquet_footer_stats(
                os.path.join(index_dir, "segments")
            )
            if seg_bytes <= SEGMENT_CACHE_MAX_BYTES:
                # cache ALREADY hash-partitioned by shard so every query is a
                # single-stage job (no per-query exchange; scoring needs each
                # shard whole in one partition), and sorted by term within
                # partitions: the in-memory columnar batches keep min/max
                # stats per batch, so the term filter prunes cached batches
                # instead of scanning them all
                self._segments = (
                    self._segments.repartition(self._query_partitions, "shard")
                    .sortWithinPartitions("term")
                    .cache()
                )
                self._cached_by_shard = True
            n_terms, _ = _parquet_footer_stats(os.path.join(index_dir, "terms"))
            if n_terms <= DF_CACHE_MAX_TERMS:
                self._df_cache = self._load_df_stats(index_dir)

    @classmethod
    def load(cls, spark: SparkSession, index_dir: str, cache: bool = False) -> "FtsIndex":
        return cls(spark, index_dir, IndexMeta.load(index_dir), cache=cache)

    # -- plumbing ------------------------------------------------------------

    def doc_map(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.index_dir, "doc_map"))

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.index_dir, "lineage"))

    def query_terms(self, query: str) -> list[str]:
        return sorted(set(tokenize_text(query)))

    @staticmethod
    def _load_df_stats(index_dir: str) -> dict[str, int]:
        import pyarrow.dataset as ds

        t = ds.dataset(os.path.join(index_dir, "terms")).to_table(columns=["term", "df"])
        return dict(zip(t.column("term").to_pylist(), t.column("df").to_pylist()))

    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """Exact df per query term; driver dict in serving mode, else a
        min/max-pruned parquet scan (tiny result)."""
        if not terms:
            return {}
        if self._df_cache is not None:
            return {t: self._df_cache[t] for t in terms if t in self._df_cache}
        rows = self._terms.filter(F.col("term").isin(terms)).collect()
        return {r["term"]: int(r["df"]) for r in rows}

    def _empty(self, schema: str) -> DataFrame:
        return local_rows_df(self.spark, [], schema)

    def _query_plan(self, terms: list[str], dfs: dict[str, int],
                    mode: str) -> tuple[dict[str, float], int] | None:
        """(idf per matched term, number of query terms) for one query, or
        None when it can match nothing: no term is in the index, or
        mode='all' and some term is absent. n_terms counts the QUERY's
        terms, not the matched ones — 'all' scoring needs every one."""
        idfs = {t: idf_scalar(dfs[t], self.meta.n_docs) for t in terms if t in dfs}
        if not idfs or (mode == "all" and len(idfs) < len(terms)):
            return None
        return idfs, len(terms)

    # -- scoring -------------------------------------------------------------

    # scoring reads only these columns — positions (phrase-only) and sum_tf
    # (collection-frequency metadata, consumed by merge/stats paths, never
    # by a scoring kernel) are pruned from the per-query scan
    _SCORE_COLS = [
        "term", "shard", "n", "docids", "tfs", "doclens",
        "blk_last", "blk_max", "max_tfc",
    ]

    def _matched_segments(self, terms: list[str], with_positions: bool = False) -> DataFrame:
        cols = self._SCORE_COLS + (["positions"] if with_positions else [])
        return self._segments.filter(F.col("term").isin(terms)).select(*cols)

    def _shard_partitioned(self, terms: list[str], with_positions: bool = False) -> DataFrame:
        """Matched posting rows, hash-distributed by shard over a small
        explicit partition count (a whole shard never splits — each shard's
        scores are computed completely and locally). In serving mode the
        cache is already shard-partitioned, so the filter is narrow and the
        query runs as one single-stage job — no per-query exchange."""
        matched = self._matched_segments(terms, with_positions)
        if self._cached_by_shard:
            return matched
        return matched.repartition(self._query_partitions, "shard")

    def score_all(self, query: str, mode: str = "all") -> DataFrame:
        """Exhaustive index-accelerated scoring: all matching (doc_id, score).

        Used by boolean composition (NOT-IN / AND / OR operate on full result
        relations, reference /root/reference/search.py:67-119).
        """
        terms = self.query_terms(query)
        plan = self._query_plan(terms, self.term_stats(terms), mode)
        if plan is None:
            return self._empty(SCORE_SCHEMA)
        idfs, n_terms = plan
        avgdl = self.meta.avgdl

        def run(batches):
            pdf = _concat_batches(batches)
            if pdf is None:
                return
            for _, g in pdf.groupby("shard", sort=False):
                yield score_shard_taat(g, idfs, avgdl, n_terms, mode)

        return self._shard_partitioned(list(idfs)).mapInPandas(
            run, schema=SCORE_SCHEMA
        )

    def _local_topk(self, plans: list[tuple[dict[str, float], int]], k: int,
                    mode: str, method: str) -> DataFrame:
        """Per-shard local top-k heaps of several queries from ONE scan:
        (qid, doc_id, score), qid = position in `plans`.

        The scan reads the union of the queries' terms; per shard each query
        scores only its own term rows, so its heap is exactly the one a
        single-query scan would produce. Top-k of the union of the shard
        heaps, under (score desc, doc_id asc), is the query's global top-k.

        method='wand'  per-shard block-max WAND heaps (rank-identical)
        method='taat'  per-shard exhaustive, then local top-k
        """
        avgdl = self.meta.avgdl

        def kern(g: pd.DataFrame, idfs: dict[str, float], n_terms: int) -> pd.DataFrame:
            if method == "wand":
                return score_shard_wand(g, idfs, avgdl, n_terms, mode, k)
            out = score_shard_taat(g, idfs, avgdl, n_terms, mode)
            out = out.sort_values(
                ["score", "doc_id"], ascending=[False, True], kind="mergesort"
            )
            return out.head(k)

        def run(batches):
            pdf = _concat_batches(batches)
            if pdf is None:
                return
            heaps = []
            for _, g in pdf.groupby("shard", sort=False):
                for qid, (idfs, n_terms) in enumerate(plans):
                    own = g[g["term"].isin(idfs)]
                    heap = kern(own, idfs, n_terms) if len(own) else ()
                    # empty heaps carry untyped columns; keep them out of
                    # the concat so doc_id stays int64
                    if len(heap):
                        heaps.append(heap.assign(qid=qid))
            if heaps:
                yield pd.concat(heaps, ignore_index=True)[["qid", "doc_id", "score"]]

        terms = sorted(set().union(*(idfs for idfs, _ in plans)))
        return self._shard_partitioned(terms).mapInPandas(
            run, schema="qid int, " + SCORE_SCHEMA
        )

    def topk(
        self, query: str, k: int = 10, mode: str = "all", method: str = "wand"
    ) -> DataFrame:
        """Top-k (doc_id, score) ordered (score desc, doc_id asc): the
        one-query case of `topk_many`, kept lazy — a TakeOrderedAndProject
        over the per-shard heaps (method: see `_local_topk`)."""
        terms = self.query_terms(query)
        plan = self._query_plan(terms, self.term_stats(terms), mode)
        if plan is None:
            return self._empty(SCORE_SCHEMA)
        local = self._local_topk([plan], k, mode, method).select("doc_id", "score")
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_many(
        self, queries: list[str], k: int, mode: str = "any", method: str = "wand"
    ) -> dict[str, list[tuple[int, float]]]:
        """Top-k [(doc_id, score)] per query, ordered (score desc, doc_id
        asc), every query scored by ONE Spark job: the per-shard heaps of
        `_local_topk` are collected (at most queries x shards x k rows) and
        merged per query on the driver. Each list equals
        `topk(q, k, mode, method).collect()`. Queries with the same term
        set share one heap; a query that can match nothing costs no scan."""
        terms_of = {q: tuple(self.query_terms(q)) for q in queries}
        dfs = self.term_stats(sorted(set().union(*terms_of.values())))
        plans = {}
        for terms in dict.fromkeys(terms_of.values()):
            plan = self._query_plan(list(terms), dfs, mode)
            if plan is not None:
                plans[terms] = plan
        hits = {terms: [] for terms in plans}
        if plans:
            keys = list(plans)
            local = self._local_topk(list(plans.values()), k, mode, method).toPandas()
            local = local.sort_values(
                ["qid", "score", "doc_id"], ascending=[True, False, True],
                kind="mergesort",
            ).groupby("qid", sort=False).head(k)
            for qid, d, sc in zip(local["qid"].tolist(), local["doc_id"].tolist(),
                                  local["score"].tolist()):
                hits[keys[qid]].append((d, sc))
        return {q: list(hits.get(terms, [])) for q, terms in terms_of.items()}

    # -- phrase queries --------------------------------------------------------

    def phrase_matches(self, phrase: str, prune: bool = True) -> DataFrame:
        """All (doc_id, tf, doclen) where the exact token sequence occurs;
        tf = number of phrase occurrences (FTS5 phrase semantics,
        /root/reference/src/index/sqlite_search_index.py:110-113 executes
        quoted phrases through FTS5 MATCH).

        Needs a with_positions=True index. Per shard the match is fully
        vectorized and TWO-STAGE (prune=True, the default):

          1. decode only the POSTINGS of each term and intersect doc-id
             lists rarest-term-first — positions never touched; a shard
             whose intersection is empty is skipped outright.
          2. decode positions ONLY for intersection docs
             (codec.decode_positions_subset) and intersect the shifted
             (doc, pos) keys per term order.

        Stage 2's cost is bounded by the candidate intersection instead of
        the head term's full position list — the phrase analog of WAND's
        rarest-term bounding (a head term at 10^12 docs carries ~10^11
        positions; a selective phrase intersects to a handful). prune=False
        keeps the single-stage full-decode path for A/B identity tests.
        """
        if not self.meta.extras.get("with_positions"):
            raise ValueError("index was built without positions (with_positions=True)")
        seq = self.query_terms_ordered(phrase)
        empty = self._empty(MATCH_SCHEMA)
        if not seq:
            return empty
        uniq = sorted(set(seq))
        dfs = self.term_stats(uniq)
        if any(t not in dfs for t in uniq):
            return empty

        def run(batches):
            pdf = _concat_batches(batches)
            if pdf is None:
                return
            for _, g in pdf.groupby("shard", sort=False):
                rows = {r["term"]: r for _, r in g.iterrows()}
                res = _shard_phrase_occurrences(rows, seq, prune)
                if res is None:
                    continue
                _, _, d_ids, d_tf, d_dl = res
                yield pd.DataFrame(
                    {"doc_id": d_ids, "tf": d_tf, "doclen": d_dl})

        return self._shard_partitioned(uniq, with_positions=True).mapInPandas(
            run, schema=MATCH_SCHEMA
        )

    def _virtual_term_topk(self, matches: DataFrame, k: int) -> DataFrame:
        """Score a (doc_id, tf, doclen) virtual-term relation: FTS5's bm25()
        treats a quoted phrase OR a prefix token as one scoring unit whose
        df is the number of matching docs. Two jobs: a global df count
        (tiny relation), then score + TakeOrderedAndProject.

        localCheckpoint (not persist): the matches relation is needed by
        two actions (df count + scoring) but must not pin executor storage
        for the life of the session — checkpoint blocks are freed by the
        ContextCleaner as soon as the result DataFrame is dropped, whereas
        a persist() with no unpersist() accumulates across queries."""
        from ..query.bm25 import idf_scalar, tf_component_col

        matches = matches.localCheckpoint(eager=True)
        df_v = matches.count()
        if df_v == 0:
            return self._empty(SCORE_SCHEMA)
        idf = idf_scalar(df_v, self.meta.n_docs)
        scored = matches.select(
            "doc_id",
            (F.lit(idf) * tf_component_col(F.col("tf"), F.col("doclen"),
                                           self.meta.avgdl)).alias("score"),
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def phrase_topk(self, phrase: str, k: int = 10) -> DataFrame:
        """Top-k BM25 treating the phrase as ONE virtual term: its tf is the
        occurrence count and its df the number of matching docs (exactly how
        FTS5's bm25() scores a quoted phrase)."""
        return self._virtual_term_topk(self.phrase_matches(phrase), k)

    # -- prefix queries --------------------------------------------------------

    def prefix_matches(self, prefix: str) -> DataFrame:
        """(doc_id, tf, doclen) for docs containing ANY vocab term starting
        with `prefix` — tf totals occurrences across matching terms (FTS5
        prefix-token semantics; the reference forwards raw FTS5 MATCH
        syntax, /root/reference/src/index/sqlite_search_index.py:110-113,
        so 'tok*' is part of its user-facing query surface).

        The segment scan filters term.startswith(prefix), which Spark
        pushes into parquet as StringStartsWith — term-sorted segments
        row-group-prune to the prefix's vocab slice, so the scan cost
        scales with the matching vocabulary, not the index. Docs are
        shard-partitioned, so the per-shard posting-list merge (one
        vectorized sort + reduceat) is globally complete per doc."""
        norm = self.query_terms_ordered(prefix.rstrip("*"))
        if len(norm) != 1:
            raise ValueError(
                f"prefix query must normalize to exactly one token, got "
                f"{norm!r} from {prefix!r}")
        seg = self._segments.filter(
            F.col("term").startswith(norm[0])).select(*self._SCORE_COLS)
        if not self._cached_by_shard:
            seg = seg.repartition(self._query_partitions, "shard")

        def run(batches):
            import numpy as np

            from .codec import decode_postings

            pdf = _concat_batches(batches)
            if pdf is None:
                return
            for _, g in pdf.groupby("shard", sort=False):
                ids_l, tfs_l, dls_l = [], [], []
                for _, r in g.iterrows():
                    ids, tfs, dls = decode_postings(r)
                    ids_l.append(ids)
                    tfs_l.append(tfs)
                    dls_l.append(dls)
                ids = np.concatenate(ids_l)
                tfs = np.concatenate(tfs_l)
                dls = np.concatenate(dls_l)
                order = np.argsort(ids, kind="stable")
                ids, tfs, dls = ids[order], tfs[order], dls[order]
                uniq, starts = np.unique(ids, return_index=True)
                yield pd.DataFrame({
                    "doc_id": uniq,
                    "tf": np.add.reduceat(tfs, starts).astype(np.int64),
                    "doclen": dls[starts],
                })

        return seg.mapInPandas(run, schema=MATCH_SCHEMA)

    def prefix_topk(self, prefix: str, k: int = 10) -> DataFrame:
        """FTS5 prefix-query ('tok*') top-k BM25 — the prefix is ONE
        virtual term (tf = occurrences of any matching vocab term, df =
        docs with at least one match), rank-identical to FTS5's own
        'tok*' MATCH scoring."""
        return self._virtual_term_topk(self.prefix_matches(prefix), k)

    def initial_matches(self, phrase: str) -> DataFrame:
        """FTS5 '^...' initial-token match: (doc_id, tf, doclen) for docs
        whose column STARTS with the phrase (occurrence at token position
        0 — tf is 1 by construction; FTS5 scores only the anchored
        instance, pinned empirically). Same candidate-bounded positional
        kernel as phrase_matches, with the occurrence set filtered to
        start == 0."""
        if not self.meta.extras.get("with_positions"):
            raise ValueError("index was built without positions (with_positions=True)")
        seq = self.query_terms_ordered(phrase.lstrip("^"))
        empty = self._empty(MATCH_SCHEMA)
        if not seq:
            return empty
        uniq = sorted(set(seq))
        dfs = self.term_stats(uniq)
        if any(t not in dfs for t in uniq):
            return empty

        def run(batches):
            import numpy as np

            pdf = _concat_batches(batches)
            if pdf is None:
                return
            for _, g in pdf.groupby("shard", sort=False):
                rows = {r["term"]: r for _, r in g.iterrows()}
                res = _shard_phrase_occurrences(rows, seq)
                if res is None:
                    continue
                occ_doc, occ_start, d_ids, _, d_dl = res
                hit = occ_doc[occ_start == 0]
                if not hit.size:
                    continue
                dl = d_dl[np.searchsorted(d_ids, hit)]
                yield pd.DataFrame({
                    "doc_id": hit,
                    "tf": np.ones(hit.size, dtype=np.int64),
                    "doclen": dl,
                })

        return self._shard_partitioned(uniq, with_positions=True).mapInPandas(
            run, schema=MATCH_SCHEMA
        )

    def initial_topk(self, phrase: str, k: int = 10) -> DataFrame:
        """FTS5 '^phrase' top-k BM25 — one virtual term anchored at the
        column start (df = matching docs, tf = the single anchored
        instance), rank-identical to FTS5's '^' MATCH scoring."""
        return self._virtual_term_topk(self.initial_matches(phrase), k)

    # -- NEAR queries ----------------------------------------------------------

    def near_relation(self, phrase_a: str, phrase_b: str,
                      n: int = 10) -> DataFrame:
        """(doc_id, tf_a, tf_b, near_tf_a, near_tf_b, doclen, near) for
        every doc containing EITHER phrase. `near` is FTS5's
        NEAR("a..." "b...", N) predicate — some occurrence pair has at most
        N tokens between the phrase boundaries, order-insensitive
        (adjacent = gap 0, overlap counts). near_tf_* count only the
        occurrences PARTICIPATING in at least one near pair — FTS5's
        bm25() scores NEAR groups with those, not the full tfs (pinned
        empirically: a far-away extra instance does not raise the score),
        while each phrase's df stays its standalone matching-doc count
        (tf_* > 0). One positional kernel per shard computes both phrases'
        occurrences (_shard_phrase_occurrences — candidate-bounded decode)
        and the min-gap tests as two symmetric merges over the sorted
        (doc, start) arrays."""
        if not self.meta.extras.get("with_positions"):
            raise ValueError("index was built without positions (with_positions=True)")
        seq_a = self.query_terms_ordered(phrase_a)
        seq_b = self.query_terms_ordered(phrase_b)
        if not seq_a or not seq_b:
            raise ValueError("NEAR needs two non-empty phrases")
        len_a, len_b = len(seq_a), len(seq_b)
        terms = sorted(set(seq_a) | set(seq_b))
        schema = ("doc_id long, tf_a long, tf_b long, near_tf_a long, "
                  "near_tf_b long, doclen long, near boolean")

        def run(batches):
            import numpy as np

            def participants(k_self, st_self, c_self, L_self,
                             k_other, L_other):
                """Mask of self-occurrences having some other-phrase
                occurrence in the same doc within gap <= n (checking the
                nearest other occurrence on each side is sufficient for
                the minimum gap)."""
                j = np.searchsorted(k_other, k_self)
                jp = np.maximum(j - 1, 0)
                pred_ok = (j > 0) & ((k_other[jp] >> np.int64(32)) == c_self)
                gap_pred = st_self - ((k_other[jp] & np.int64(0xFFFFFFFF))
                                      + L_other - 1) - 1
                js = np.minimum(j, k_other.size - 1)
                succ_ok = (j < k_other.size) & (
                    (k_other[js] >> np.int64(32)) == c_self)
                gap_succ = (k_other[js] & np.int64(0xFFFFFFFF)) - (
                    st_self + L_self - 1) - 1
                return (pred_ok & (gap_pred <= n)) | (succ_ok & (gap_succ <= n))

            pdf = _concat_batches(batches)
            if pdf is None:
                return
            for _, g in pdf.groupby("shard", sort=False):
                rows = {r["term"]: r for _, r in g.iterrows()}
                cache = {}
                ra = _shard_phrase_occurrences(rows, seq_a,
                                               decoded_cache=cache)
                rb = _shard_phrase_occurrences(rows, seq_b,
                                               decoded_cache=cache)
                if ra is None and rb is None:
                    continue
                empty = (np.empty(0, np.int64),) * 5
                oa_doc, oa_st, da, ta, dla = ra if ra is not None else empty
                ob_doc, ob_st, db, tb, dlb = rb if rb is not None else empty
                ud = np.union1d(da, db)
                # align per-doc tf/doclen onto the union doc list
                tf_a = np.zeros(ud.size, np.int64)
                tf_b = np.zeros(ud.size, np.int64)
                ntf_a = np.zeros(ud.size, np.int64)
                ntf_b = np.zeros(ud.size, np.int64)
                dl = np.zeros(ud.size, np.int64)
                ia = np.searchsorted(ud, da)
                ib = np.searchsorted(ud, db)
                tf_a[ia], tf_b[ib] = ta, tb
                dl[ia], dl[ib] = dla, dlb
                if oa_doc.size and ob_doc.size:
                    # local doc codes (int64 ids don't fit a composite key)
                    ca = np.searchsorted(ud, oa_doc)
                    cb = np.searchsorted(ud, ob_doc)
                    ka = (ca << np.int64(32)) + oa_st  # sorted by (doc, start)
                    kb = (cb << np.int64(32)) + ob_st
                    hit_a = participants(ka, oa_st, ca, len_a, kb, len_b)
                    hit_b = participants(kb, ob_st, cb, len_b, ka, len_a)
                    ntf_a += np.bincount(ca[hit_a], minlength=ud.size)
                    ntf_b += np.bincount(cb[hit_b], minlength=ud.size)
                yield pd.DataFrame({
                    "doc_id": ud, "tf_a": tf_a, "tf_b": tf_b,
                    "near_tf_a": ntf_a, "near_tf_b": ntf_b,
                    "doclen": dl, "near": ntf_a > 0,
                })

        return self._shard_partitioned(terms, with_positions=True).mapInPandas(
            run, schema=schema)

    def near_topk(self, phrase_a: str, phrase_b: str, n: int = 10,
                  k: int = 10) -> DataFrame:
        """FTS5 NEAR("a..." "b...", N) top-k BM25 — rank-identical to FTS5
        (the reference forwards raw MATCH syntax). Scoring, pinned
        empirically against FTS5: each phrase contributes its standard
        BM25 term with df = its STANDALONE matching-doc count but
        tf = only the occurrences PARTICIPATING in a near pair (an extra
        far-away instance does not raise the score)."""
        from ..query.bm25 import idf_scalar, tf_component_col

        rel = self.near_relation(phrase_a, phrase_b, n).localCheckpoint(
            eager=True)
        counts = rel.agg(
            F.sum(F.when(F.col("tf_a") > 0, 1).otherwise(0)).alias("df_a"),
            F.sum(F.when(F.col("tf_b") > 0, 1).otherwise(0)).alias("df_b"),
        ).collect()[0]
        df_a, df_b = int(counts["df_a"] or 0), int(counts["df_b"] or 0)
        if df_a == 0 or df_b == 0:
            return self._empty(SCORE_SCHEMA)
        idf_a = idf_scalar(df_a, self.meta.n_docs)
        idf_b = idf_scalar(df_b, self.meta.n_docs)
        scored = rel.filter("near").select(
            "doc_id",
            (F.lit(idf_a) * tf_component_col(F.col("near_tf_a"),
                                             F.col("doclen"), self.meta.avgdl)
             + F.lit(idf_b) * tf_component_col(F.col("near_tf_b"),
                                               F.col("doclen"),
                                               self.meta.avgdl)).alias("score"),
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def query_terms_ordered(self, query: str) -> list[str]:
        from ..analyzer import tokenize_text

        return tokenize_text(query)

    def scorer(self):
        """(query, mode) -> score_all DataFrame, for wise_spark.query.search."""
        return lambda q, m="all": self.score_all(q, m)

    # hydrate collects hits driver-side up to this cap; the reference's page
    # cap is 1000, so any search-path result fits with a wide margin
    HYDRATE_ISIN_MAX = 10_000

    def hydrate(self, results: DataFrame) -> DataFrame:
        """Join top-k hits back to doc_map metadata — the reference's FTS
        rowid join (/root/reference/src/index/sqlite_search_index.py:110-113).

        Hits are <= page-cap (1000) driver-sized rows, so collect them ONCE
        and push `doc_id IN (...)` into the doc_map parquet scan: row-group
        min/max pruning on a doc_id-sorted doc_map skips everything else —
        without the pushed predicate every hydrate is a full doc_map pass,
        a 10^12-row scan per query at target scale. The collected rows are
        re-created as a local relation and broadcast, which also avoids
        recomputing the scoring plan a second time inside the join. Results
        larger than HYDRATE_ISIN_MAX rows (not a search-path shape, e.g. a
        raw score_all relation) fall back to a plain shuffle join — NOT a
        broadcast: an unbounded hit relation can be corpus-sized, and
        forcing it through a broadcast would collect it to the driver."""
        rows = results.limit(self.HYDRATE_ISIN_MAX + 1).collect()
        if len(rows) > self.HYDRATE_ISIN_MAX:
            # pin the over-cap relation so the join (and every later action
            # on the hydrated result) reads the materialized rows instead of
            # re-running the whole scoring plan per action
            return self.doc_map().join(
                results.localCheckpoint(eager=True), "doc_id", "inner"
            )
        local = local_rows_df(self.spark, rows, results.schema)
        ids = [r["doc_id"] for r in rows]
        pred = F.col("doc_id").isin(ids) if ids else F.lit(False)
        return self.doc_map().filter(pred).join(F.broadcast(local), "doc_id", "inner")
