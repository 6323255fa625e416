"""FtsIndex: load a built index and execute top-k BM25 queries.

Query lifecycle (SURVEY.md section 3.4): driver tokenizes the query with the
SAME analyzer as the build side, looks up exact df for the query terms from
the range-partitioned terms table (parquet min/max pruning on `term`), then
reads only the query terms' segment rows and runs the per-shard scoring
kernel; the global result is a tiny merge of per-shard top-k heaps.
`topk_many` scores a batch of queries in one such pass and merges the heaps
on the driver. Every index query (terms, phrase, prefix, '^', NEAR) runs
this one per-shard pass, `FtsIndex._per_shard`, over one of two row sources:

  * pinned (`cache=True`, segments under SEGMENT_PIN_MAX_BYTES): the
    segments' scoring columns as one term-sorted Arrow table in DRIVER
    memory, sliced by binary search on its term order and scored on the
    driver. `topk_many` (so every /search batch) runs no Spark job and
    builds no pandas frame; the lazy APIs return the kernels' rows as a
    JVM-only LocalTableScan.
  * not pinned: a parquet scan with the term filter pushed down,
    hash-distributed by shard, and the file's one mapInPandas.

Both sources hand the kernel loop (`_over_shards`) one shard's segment
rows at a time as a term-sorted list of records (dicts); a kernel returns
its rows as {column: numpy array}, or None.

Scale notes: the segments scan touches only the query terms' posting rows —
for a 3-term query over 10^12 docs that is 3 * n_shards rows regardless of
corpus size; df/avgdl stats ship to executors as broadcast-sized closure
values (a handful of floats), the analog of the reference broadcasting its
corpus stats implicitly inside FTS5.
"""

from __future__ import annotations

import bisect
import os
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analyzer import tokenize_text
from ..query.bm25 import SCORE_SCHEMA, idf_scalar, tf_component_col
from ..session import local_rows_df
from .build import (
    IndexMeta, _bound_driver_arrow_threads, _concat_batches, _parquet_footer_stats,
)
from .codec import decode_positions_subset, decode_postings
from .wand import decode_terms, frame_records, local_topk, taat, wand_topk


def _term_rows(records: list[dict]) -> dict:
    """{term: segment record} over ONE shard's records."""
    return {r["term"]: r for r in records}


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


# Serving-mode size guards: above these, cache=True leaves that piece on
# disk and queries take the pruned-scan path (a 10^9-term vocabulary dict or
# a multi-TB segment set must never be pinned wholesale in the driver;
# queries stay exact either way, the pins are purely a latency
# optimization).
DF_CACHE_MAX_TERMS = 5_000_000          # ~100s of MB of driver heap
# segments' parquet footer bytes. The driver's Arrow pin measured 2.58x
# that on a 3,000-doc index, 1.53x on a 1M-doc one (425 MiB for 278 MiB:
# the largest index a cache=True caller serves, bench.py's) and 1.44x on
# a 1.8M-doc one (683 MiB for 474 MiB), so the guard covers bench.py's
# index with ~1.8x headroom and holds a pin to ~0.75 GiB of driver memory
SEGMENT_PIN_MAX_BYTES = 512 << 20

# the (doc_id, tf, doclen) virtual-term matches the phrase/prefix/initial
# scans emit
MATCH_SCHEMA = "doc_id long, tf long, doclen long"
# the per-shard heaps of topk/topk_many: qid = the query's plan position
HEAP_SCHEMA = "qid int, " + SCORE_SCHEMA


def _by_shard(records) -> dict[int, list[dict]]:
    """{shard: its records}, each list in the order given."""
    out: dict[int, list[dict]] = {}
    for r in records:
        out.setdefault(r["shard"], []).append(r)
    return out


def _over_shards(rows: dict[int, list[dict]], kernel) -> dict | None:
    """The one kernel loop of both row sources: `kernel(one shard's
    term-sorted records) -> {column: array} | None` per shard, the columns
    concatenated; None when no shard emits."""
    out = [c for c in map(kernel, rows.values()) if c is not None]
    if not out:
        return None
    return {name: np.concatenate([c[name] for c in out]) for name in out[0]}


def _pinned_rows(pin, match, cols: list[str]) -> dict[int, list[dict]]:
    """The pin's `cols` (which hold "shard") of the rows whose term is in
    `match` (a term list) or starts with it (a prefix string), as records
    grouped by shard — the driver-side twin of the segments scan's
    pushed-down filter in `FtsIndex._per_shard`. The pin is sorted by
    (term, shard), so each term (or the prefix) is one contiguous slice
    found by binary search, and visiting the slices in term order leaves
    every shard's records term-sorted: a query costs O(log rows + matched
    rows), not a pass over the whole pin."""
    if isinstance(match, str):
        wanted, key = [match], lambda s: s.as_py()[:len(match)]
    else:
        wanted, key = sorted(set(match)), lambda s: s.as_py()
    terms = pin.column("term")
    spans = [(bisect.bisect_left(terms, t, key=key),
              bisect.bisect_right(terms, t, key=key)) for t in wanted]
    return _by_shard(r for lo, hi in spans if hi > lo
                     for r in pin.slice(lo, hi - lo).select(cols).to_pylist())


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
        # the driver pin of the segments (a pyarrow Table), or None
        self._pinned = None
        # doc_map row-group directory for doc_rows, built on first use
        self._doc_dir = None
        self._doc_dir_lock = threading.Lock()
        # per-query scoring parallelism of the segments scan: enough tasks
        # to spread shards, few enough that task/python-worker overhead
        # stays off the latency path
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
            # serving mode: pin the segments' scoring columns (and
            # positions) as one term-sorted Arrow table and the term->df
            # stats as a dict, both in DRIVER memory and read with pyarrow
            # (no Spark job) — the reference serves its hot FTS5 index from
            # an in-process :memory: copy the same way
            # (src/index/sqlite_search_index.py:94-98). A pinned topk_many
            # then runs no Spark job. Both pins are SIZE-GUARDED from
            # parquet footers (no data read): a piece too big to pin stays
            # on disk and queries take the pruned scan, exact either way.
            seg_dir = os.path.join(index_dir, "segments")
            if _parquet_footer_stats(seg_dir)[1] <= SEGMENT_PIN_MAX_BYTES:
                self._pinned = self._pin_segments(seg_dir)
            n_terms, _ = _parquet_footer_stats(os.path.join(index_dir, "terms"))
            if n_terms <= DF_CACHE_MAX_TERMS:
                self._df_cache = self._load_df_stats(index_dir)

    @classmethod
    def load(cls, spark: SparkSession, index_dir: str, cache: bool = False) -> "FtsIndex":
        return cls(spark, index_dir, IndexMeta.load(index_dir), cache=cache)

    def unpersist(self) -> None:
        """Drop the driver pin of the segments; later queries take the
        segments scan. A no-op on an index that holds no pin."""
        self._pinned = None

    def _pin_segments(self, seg_dir: str):
        """The serving pin: the scoring columns of every segment row, plus
        positions on a with_positions index, sorted by (term, shard)."""
        import pyarrow.dataset as ds

        _bound_driver_arrow_threads()
        cols = self._SCORE_COLS + (
            ["positions"] if self.meta.extras.get("with_positions") else [])
        seg = ds.dataset(seg_dir, format="parquet").to_table(columns=cols)
        return seg.sort_by([("term", "ascending"), ("shard", "ascending")])

    # -- plumbing ------------------------------------------------------------

    def doc_map(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.index_dir, "doc_map"))

    def _doc_map_directory(self):
        """(schema, fragments, lo, hi): one pyarrow fragment per non-empty
        doc_map row group with its doc_id [lo, hi] from the footer
        statistics (a row group without them gets the whole int64 range, so
        it is always read). Built once per index, under a lock: request
        threads of a server call doc_rows concurrently."""
        with self._doc_dir_lock:
            if self._doc_dir is None:
                import pyarrow.dataset as ds

                _bound_driver_arrow_threads()
                dataset = ds.dataset(os.path.join(self.index_dir, "doc_map"),
                                     format="parquet")
                frags, lo, hi = [], [], []
                i64 = np.iinfo(np.int64)
                for frag in dataset.get_fragments():
                    frag.ensure_complete_metadata()
                    for rg in frag.row_groups:
                        if not rg.num_rows:
                            continue
                        st = (rg.statistics or {}).get("doc_id") or {}
                        frags.append(frag.subset(row_group_ids=[rg.id]))
                        lo.append(st.get("min", i64.min))
                        hi.append(st.get("max", i64.max))
                self._doc_dir = (dataset.schema, frags,
                                 np.array(lo, np.int64), np.array(hi, np.int64))
            return self._doc_dir

    def doc_rows(self, ids) -> dict[int, dict]:
        """{doc_id: doc_map row as a dict} for the given doc_ids, read on the
        driver with pyarrow — no Spark job. Only the row groups whose
        [min, max] doc_id range holds some id are read: Stage B writes
        doc_map sorted by doc_id, so a page of hits touches at most one row
        group per hit. The interval test is exact on any doc_map (an
        unsorted one from an older build just prunes nothing). Absent ids
        are missing from the result; duplicates collapse."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        want = np.unique(np.asarray(list(ids), dtype=np.int64))
        if not want.size:
            return {}
        schema, frags, lo, hi = self._doc_map_directory()
        # row group g holds a wanted id iff some id lies in [lo[g], hi[g]]
        hit = np.searchsorted(want, lo, "left") < np.searchsorted(want, hi, "right")
        pred = ds.field("doc_id").isin(pa.array(want, pa.int64()))
        out: dict[int, dict] = {}
        for g in np.flatnonzero(hit):
            for row in frags[g].to_table(schema=schema, filter=pred).to_pylist():
                out[row["doc_id"]] = row
        return out

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

    # scoring reads only these columns — positions (phrase-only), sum_tf
    # and max_tfc (collection-frequency and whole-list bound metadata,
    # consumed by merge/stats paths, never by a scoring kernel: WAND bounds
    # come from the block maxima) are pruned from the per-query scan
    _SCORE_COLS = [
        "term", "shard", "n", "docids", "tfs", "doclens", "blk_last", "blk_max",
    ]

    def _per_shard(self, match, kernel, schema: str,
                   with_positions: bool = False, collect: bool = False):
        """The one per-shard pass every index query runs: the segment rows
        of `match` (a term list, or a prefix string), then `kernel(one
        shard's term-sorted records) -> {column: array} | None` per shard
        (`_over_shards`). A whole shard is always scored in one place, so
        each shard's result is complete and local. Pinned: the records are
        sliced out of the driver pin, the kernels run now on the driver,
        and the rows return as a JVM-only LocalTableScan. Not pinned: a
        parquet scan with the filter pushed down, hash-distributed by shard
        over a small explicit partition count, and one mapInPandas, whose
        frame becomes records once per partition; `kernel` then runs on the
        executors and must not close over `self`. collect=True returns the
        rows as {column: array} (None when no shard emits) instead: no
        Spark job and no pandas on a pinned index, one `toPandas` of the
        scan otherwise."""
        cols = self._SCORE_COLS + (["positions"] if with_positions else [])
        pin = self._pinned
        if pin is not None:
            out = _over_shards(_pinned_rows(pin, match, cols), kernel)
            if collect:
                return out
            return (self._empty(schema) if out is None
                    else local_rows_df(self.spark, out, schema))
        term = F.col("term")
        hit = term.startswith(match) if isinstance(match, str) else term.isin(match)
        seg = (self._segments.filter(hit).select(*cols)
               .repartition(self._query_partitions, "shard"))

        def run(batches):
            pdf = _concat_batches(batches)
            if pdf is None:
                return
            out = _over_shards(_by_shard(frame_records(pdf)), kernel)
            if out is not None:
                yield pd.DataFrame(out)

        rel = seg.mapInPandas(run, schema=schema)
        if not collect:
            return rel
        out = rel.toPandas()
        return {c: out[c].to_numpy() for c in out} if len(out) else None

    def score_all(self, query: str, mode: str = "all") -> DataFrame:
        """Exhaustive index-accelerated scoring: all matching (doc_id, score).

        Used by boolean composition (NOT-IN / AND / OR operate on full result
        relations, reference search.py:67-119).
        """
        terms = self.query_terms(query)
        plan = self._query_plan(terms, self.term_stats(terms), mode)
        if plan is None:
            return self._empty(SCORE_SCHEMA)
        idfs, n_terms = plan
        avgdl = self.meta.avgdl

        def kernel(records: list[dict]) -> dict:
            ids, score = taat(decode_terms(records, idfs, avgdl), n_terms, mode)
            return {"doc_id": ids, "score": score}

        return self._per_shard(list(idfs), kernel, SCORE_SCHEMA)

    def _heaps(self, plans: list[tuple[dict[str, float], int]], k: int,
               mode: str, method: str):
        """(terms, kernel): the per-shard local top-k heaps of several
        queries from ONE pass over `terms`, as (qid, doc_id, score) rows
        (HEAP_SCHEMA), qid = position in `plans`.

        The pass reads the union of the queries' terms. Per shard each
        (term, shard) row is decoded once for the whole batch — a term's
        idf, so its decoded contributions, is the same for every query —
        and each query scores only its own terms' lists, in sorted-term
        order, so its heap is exactly the one a single-query pass would
        produce. Top-k of the union of the shard heaps, under (score desc,
        doc_id asc), is the query's global top-k.

        method='wand'  per-shard block-max WAND heaps (rank-identical)
        method='taat'  per-shard exhaustive, then local top-k
        """
        avgdl = self.meta.avgdl
        idf = {t: v for idfs, _ in plans for t, v in idfs.items()}
        wanted = [(sorted(idfs), n_terms) for idfs, n_terms in plans]

        def heaps(records: list[dict]) -> dict | None:
            decoded = {x["term"]: x for x in decode_terms(records, idf, avgdl)}
            out = []
            for qid, (terms, n_terms) in enumerate(wanted):
                lists = [decoded[t] for t in terms if t in decoded]
                if not lists:
                    continue
                ids, score = (wand_topk(lists, n_terms, mode, k) if method == "wand"
                              else local_topk(*taat(lists, n_terms, mode), k))
                out.append((np.full(ids.size, qid, np.int32), ids, score))
            if not out:
                return None
            qid, ids, score = (np.concatenate(c) for c in zip(*out))
            return {"qid": qid, "doc_id": ids, "score": score}

        return sorted(idf), heaps

    def topk(
        self, query: str, k: int = 10, mode: str = "all", method: str = "wand"
    ) -> DataFrame:
        """Top-k (doc_id, score) ordered (score desc, doc_id asc): the
        one-query case of `topk_many`, as a TakeOrderedAndProject over the
        per-shard heaps (method: see `_heaps`). On an unpinned index the
        whole plan stays lazy; a pinned index scores its heaps when topk()
        is called and only the final ordering stays lazy."""
        terms = self.query_terms(query)
        plan = self._query_plan(terms, self.term_stats(terms), mode)
        if plan is None:
            return self._empty(SCORE_SCHEMA)
        local = self._per_shard(*self._heaps([plan], k, mode, method),
                                HEAP_SCHEMA).select("doc_id", "score")
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_many(
        self, queries: list[str], k: int, mode: str = "any", method: str = "wand"
    ) -> dict[str, list[tuple[int, float]]]:
        """Top-k [(doc_id, score)] per query, ordered (score desc, doc_id
        asc), every query scored by ONE per-shard pass: the heaps of
        `_heaps` (at most queries x shards x k rows) are merged per query on
        the driver. On a pinned index the pass reads the driver pin and
        runs no Spark job; otherwise it is one segments scan. Each list equals
        `topk(q, k, mode, method).collect()`. Queries with the same term
        set share one heap; a query that can match nothing costs no pass."""
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
            local = self._per_shard(*self._heaps(list(plans.values()), k, mode, method),
                                    HEAP_SCHEMA, collect=True)
            if local is not None:
                # order by (qid, score desc, doc_id asc), keep each qid's first k
                qid, ids, score = local["qid"], local["doc_id"], local["score"]
                order = np.lexsort((ids, -score, qid))
                qid, ids, score = qid[order], ids[order], score[order]
                head = np.arange(qid.size) - np.searchsorted(qid, qid) < k
                for q, d, sc in zip(qid[head].tolist(), ids[head].tolist(),
                                    score[head].tolist()):
                    hits[keys[q]].append((d, sc))
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
        seq = self._phrase_terms(phrase)
        if seq is None:
            return self._empty(MATCH_SCHEMA)

        def kernel(records: list[dict]) -> dict | None:
            res = _shard_phrase_occurrences(_term_rows(records), seq, prune)
            if res is None:
                return None
            _, _, d_ids, d_tf, d_dl = res
            return {"doc_id": d_ids, "tf": d_tf, "doclen": d_dl}

        return self._per_shard(sorted(set(seq)), kernel, MATCH_SCHEMA,
                               with_positions=True)

    def _phrase_terms(self, text: str) -> list[str] | None:
        """The phrase's token sequence, or None when it can match nothing
        (no tokens, or some token absent from the index). Raises on an
        index built without positions."""
        if not self.meta.extras.get("with_positions"):
            raise ValueError("index was built without positions (with_positions=True)")
        seq = self.query_terms_ordered(text)
        uniq = sorted(set(seq))
        if not seq or len(self.term_stats(uniq)) < len(uniq):
            return None
        return seq

    def _virtual_term_topk(self, rel: DataFrame, k: int,
                           units=(("tf", "tf"),), where=None) -> DataFrame:
        """Score a virtual-term relation (doc_id, doclen, ...): FTS5's
        bm25() treats a quoted phrase, a prefix token or a '^' phrase as
        one scoring unit whose df is the number of matching docs. Each unit
        is a (df column, tf column) pair: its df counts the rows with df
        column > 0, and a doc scores sum(idf * tf component of the tf
        column) over the units, over the rows satisfying `where`. NEAR is
        two units — each phrase's standalone df, its near-pair tf. Two
        jobs: a global df aggregate (tiny relation), then score +
        TakeOrderedAndProject; no match of some unit scores nothing.

        A scanned relation is localCheckpointed (not persisted): it is
        needed by two actions (df aggregate + scoring) but must not pin
        executor storage for the life of the session — checkpoint blocks
        are freed by the ContextCleaner as soon as the result DataFrame is
        dropped, whereas a persist() with no unpersist() accumulates across
        queries. A pinned index's relation is already a LocalTableScan."""
        if self._pinned is None:
            rel = rel.localCheckpoint(eager=True)
        dfs = rel.agg(*[F.count(F.when(F.col(d) > 0, 1)) for d, _ in units]).first()
        if not all(dfs):
            return self._empty(SCORE_SCHEMA)
        terms = [F.lit(idf_scalar(df, self.meta.n_docs))
                 * tf_component_col(F.col(tf), F.col("doclen"), self.meta.avgdl)
                 for df, (_, tf) in zip(dfs, units)]
        if where is not None:
            rel = rel.filter(where)
        scored = rel.select("doc_id", sum(terms[1:], terms[0]).alias("score"))
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

        The segment rows are those whose term starts with the prefix; the
        scan pushes that into parquet as StringStartsWith — term-sorted
        segments row-group-prune to the prefix's vocab slice, so the scan
        cost scales with the matching vocabulary, not the index. Docs are
        shard-partitioned, so the per-shard posting-list merge (one
        vectorized sort + reduceat) is globally complete per doc."""
        norm = self.query_terms_ordered(prefix.rstrip("*"))
        if len(norm) != 1:
            raise ValueError(
                f"prefix query must normalize to exactly one token, got "
                f"{norm!r} from {prefix!r}")

        def kernel(records: list[dict]) -> dict:
            ids, tfs, dls = (np.concatenate(a) for a in zip(
                *map(decode_postings, records)))
            order = np.argsort(ids, kind="stable")
            ids, tfs, dls = ids[order], tfs[order], dls[order]
            uniq, starts = np.unique(ids, return_index=True)
            return {
                "doc_id": uniq,
                "tf": np.add.reduceat(tfs, starts).astype(np.int64),
                "doclen": dls[starts],
            }

        return self._per_shard(norm[0], kernel, MATCH_SCHEMA)

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
        seq = self._phrase_terms(phrase.lstrip("^"))
        if seq is None:
            return self._empty(MATCH_SCHEMA)

        def kernel(records: list[dict]) -> dict | None:
            res = _shard_phrase_occurrences(_term_rows(records), seq)
            if res is None:
                return None
            occ_doc, occ_start, d_ids, _, d_dl = res
            hit = occ_doc[occ_start == 0]
            if not hit.size:
                return None
            return {
                "doc_id": hit,
                "tf": np.ones(hit.size, dtype=np.int64),
                "doclen": d_dl[np.searchsorted(d_ids, hit)],
            }

        return self._per_shard(sorted(set(seq)), kernel, MATCH_SCHEMA,
                               with_positions=True)

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

        def participants(k_self, st_self, c_self, L_self, k_other, L_other):
            """Mask of self-occurrences having some other-phrase occurrence
            in the same doc within gap <= n (checking the nearest other
            occurrence on each side is sufficient for the minimum gap)."""
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

        def kernel(records: list[dict]) -> dict | None:
            rows, cache = _term_rows(records), {}
            ra = _shard_phrase_occurrences(rows, seq_a, decoded_cache=cache)
            rb = _shard_phrase_occurrences(rows, seq_b, decoded_cache=cache)
            if ra is None and rb is None:
                return None
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
            return {
                "doc_id": ud, "tf_a": tf_a, "tf_b": tf_b,
                "near_tf_a": ntf_a, "near_tf_b": ntf_b,
                "doclen": dl, "near": ntf_a > 0,
            }

        return self._per_shard(terms, kernel, schema, with_positions=True)

    def near_topk(self, phrase_a: str, phrase_b: str, n: int = 10,
                  k: int = 10) -> DataFrame:
        """FTS5 NEAR("a..." "b...", N) top-k BM25 — rank-identical to FTS5
        (the reference forwards raw MATCH syntax). Scoring, pinned
        empirically against FTS5: each phrase contributes its standard
        BM25 term with df = its STANDALONE matching-doc count but
        tf = only the occurrences PARTICIPATING in a near pair (an extra
        far-away instance does not raise the score)."""
        return self._virtual_term_topk(
            self.near_relation(phrase_a, phrase_b, n), k,
            units=(("tf_a", "near_tf_a"), ("tf_b", "near_tf_b")), where="near")

    def query_terms_ordered(self, query: str) -> list[str]:
        return tokenize_text(query)

    # hydrate collects hits driver-side up to this cap; the reference's page
    # cap is 1000, so any search-path result fits with a wide margin
    HYDRATE_ISIN_MAX = 10_000

    def hydrate(self, results: DataFrame) -> DataFrame:
        """Join top-k hits back to doc_map metadata — the reference's FTS
        rowid join (/root/reference/src/index/sqlite_search_index.py:110-113).

        Hits are <= page-cap (1000) driver-sized rows, so collect them ONCE
        and push `doc_id IN (...)` into the doc_map parquet scan. Stage B
        writes doc_map sorted by doc_id into range files, so every row
        group holds a disjoint doc_id range and the pushed predicate's
        row-group min/max pruning skips every row group that holds no hit —
        without it every hydrate is a full doc_map pass, a 10^12-row scan
        per query at target scale. (`doc_rows` is the same lookup on the
        driver with no Spark job; /search serving uses it.) The collected
        rows are re-created as a local relation and broadcast, which also
        avoids recomputing the scoring plan a second time inside the join.
        Results larger than HYDRATE_ISIN_MAX rows (not a search-path shape,
        e.g. a raw score_all relation) fall back to a plain shuffle join —
        NOT a broadcast: an unbounded hit relation can be corpus-sized, and
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
