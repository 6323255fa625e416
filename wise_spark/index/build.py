"""Inverted-index build: staged, checkpointed, skew-safe, resumable.

Lifecycle (SURVEY.md section 3.4), each stage an atomic parquet commit whose
_SUCCESS marker is the checkpoint (the reference commits every 8192 payloads
for the same reason, /root/reference/extract-features.py:320,400-405):

  Stage A  tokens    docs -> mapInPandas tokenize -> ONE packed row per doc
                     (terms \x00-joined + int32 tf/position buffers) parquet
                     partitioned by WAVE, written straight from the map tasks
                     — ZERO shuffles, ~40x fewer JVM rows than a flat
                     (doc_id, term) layout (measured: per-row JVM
                     materialization dominated the flat variant's wall).
  Stage B  doc_map   column projection -> (doc_id, url?, doclen) parquet +
                     exact N/avgdl
  Stage C  segments  per wave: pack-on-read partials (map-side, split-local)
                     -> ONE shuffle of packed binary runs keyed (shard,
                     bucket) -> k-way merge + varbyte/block-max encode ->
                     direct partitioned write, with a lineage row
                     (postings/bytes/wall_ms) committed after each wave ->
                     restart skips completed waves
  Stage D  terms     exact df(term) table, range-partitioned + sorted for
                     parquet min/max pruning on query terms
  meta.json          written LAST = build-complete marker

Skew handling (north_rule): the posting shuffle key is (shard, bucket) where
shard = doc_id % n_shards — a head term's postings split across ALL shards —
and phase 1 packs PARTIAL runs per (shard, term) inside each input split
BEFORE the shuffle (the moral equivalent of salting with salt = split id,
minus the salt shuffle): no reducer ever receives raw per-posting rows, only
<= n_splits packed runs per (shard, term), each bounded by its split's size
(SURVEY.md section 7 hard-part 2). Zipf df makes this mandatory at 10^12
docs; AQE cannot fix groupBy skew, only join skew.

Total exchanges for the whole build: one packed-run shuffle per wave, plus
the small doc_map/terms aggregations. No raw token row is ever shuffled.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .codec import encode_postings_many

# ONE packed row per document (shard = doc_id % n_shards, so every term of a
# doc shares one shard and one wave = shard % n_waves — Stage C prunes whole
# wave dirs). terms is the doc's DISTINCT terms \x00-joined (first-occurrence
# order); tfs is the aligned raw little-endian int32 counts; positions is the
# aligned concatenation of each term's ascending int32 token offsets (empty
# unless with_positions). Packing per doc instead of flat (doc_id, term) rows
# cuts the rows crossing the Arrow/JVM boundary ~40x — the flat layout spent
# most of stage A+C wall in per-row JVM materialization, not in tokenizing.
TOKENS_WAVE_SCHEMA = (
    "doc_id long, doclen long, url string, terms string, tfs binary, "
    "positions binary, shard int, wave int"
)
# ONE fat row per (shard, bucket) per pack CHUNK: terms \x00-joined in
# group order, term_ns = int32 postings-count per term, and the raw
# little-endian posting buffers concatenated in the same order (doc_id
# ascending within each term). Fat rows keep the per-wave exchange at
# ~chunks x n_shards x n_buckets rows (thousands) instead of one thin row
# per (split, shard, term) (millions) — per-row JVM materialization was the
# dominant exchange cost — and the chunking bounds pack-kernel memory
# independent of split size (mandatory at 100 TB; also avoids growing
# python-worker arenas by GBs, which this kernel pays for in page faults).
PARTIAL_SCHEMA = (
    "shard int, bucket int, terms string, term_ns binary, docids binary, "
    "tfs binary, doclens binary, positions binary"
)
# pack chunk size in flat (doc, term) rows. Two opposing forces: bigger
# chunks dedupe head terms harder (fewer partial runs per term -> the merge
# phase re-factorizes proportionally fewer strings), smaller chunks keep the
# chunk working set — ~35 MB of python term strings plus ~25 MB of posting
# arrays at 400k rows — inside the zone where this box's memory system
# still scales with concurrent workers (measured: 8 pinned argsort+gather
# procs inflate 1.1x at <=64 MB working sets but 3.4x at 256 MB).
PACK_CHUNK_TERMS = 400_000
SEGMENT_SCHEMA = (
    "term string, shard int, n long, docids binary, tfs binary, doclens binary, "
    "positions binary, blk_last array<long>, blk_max array<double>, "
    "max_tfc double, sum_tf long"
)
LINEAGE_SCHEMA = (
    "stage string, unit string, status string, rows long, bytes long, wall_ms long"
)

# above this many doc_map rows, corpus stats switch from a driver-side
# pyarrow column read to a distributed Spark aggregation (same exact result)
DRIVER_STATS_MAX_ROWS = 50_000_000

# bumped on any incompatible change to a checkpoint's on-disk layout.
# v3: segments/wave=N/ flat files (shard as data column); v2 was
# segments/shard=N/ dirs; v1 was flat (doc_id, term) token rows. Resuming a
# partial build across layouts would silently mis-read the old checkpoint
# (e.g. inflate doc_map N), so a marker mismatch forces a clean rebuild.
LAYOUT_VERSION = 3

# compressed tokens-checkpoint bytes fed to ONE merge task (sizes p2);
# ~4 MB compressed ≈ 50-100 MB of flat posting arrays in the worker
SEG_TASK_TOKEN_BYTES = 4 << 20

_ARROW_THREADS_BOUNDED = False


def _bound_driver_arrow_threads() -> None:
    """Cap pyarrow's CPU pool at the process's ACTUAL cpu affinity, once.

    pyarrow sizes its pool from os.cpu_count() (host CPUs), ignoring
    taskset/sched_setaffinity. A driver pinned to 4 CPUs (cluster-bench
    shape: the driver node owns a fixed CPU slice while executor width
    varies) otherwise timeslices a 32-thread pool over 4 CPUs — measured
    on the 1M-doc terms aggregation: ~12 CPU-seconds of pool work for
    ~1 CPU-second of compute, walls of 0.7-2.35 s instead of ~0.2 s, and
    pathological run-to-run variance. No-op when affinity == host CPUs."""
    global _ARROW_THREADS_BOUNDED
    if _ARROW_THREADS_BOUNDED:
        return
    _ARROW_THREADS_BOUNDED = True
    import pyarrow as _pa

    try:
        n = len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return
    if n < _pa.cpu_count():
        _pa.set_cpu_count(max(1, n))
        _pa.set_io_thread_count(max(2, n))


@dataclass
class IndexMeta:
    n_docs: int
    avgdl: float
    total_tokens: int
    n_terms: int
    n_shards: int
    n_buckets: int
    n_salts: int
    k1: float = 1.2
    b: float = 0.75
    version: int = 1
    extras: dict = field(default_factory=dict)

    def save(self, index_dir: str) -> None:
        # meta.json is the build-complete marker (FtsIndex.load and the
        # streaming publisher key on its existence) — tmp+rename so a crash
        # mid-write can never leave a torn marker on a complete index
        path = os.path.join(index_dir, "meta.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(self), f, indent=1)
        os.replace(tmp, path)

    @classmethod
    def load(cls, index_dir: str) -> "IndexMeta":
        with open(os.path.join(index_dir, "meta.json")) as f:
            return cls(**json.load(f))


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _parquet_footer_stats(path: str) -> tuple[int, int]:
    """(total rows, total compressed bytes) of a parquet tree, from footers
    only — no Spark job, no data read."""
    import pyarrow.parquet as pq

    rows = 0
    nbytes = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            if not fn.endswith(".parquet") or fn.startswith("."):
                continue
            md = pq.ParquetFile(os.path.join(dp, fn)).metadata
            rows += md.num_rows
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    nbytes += g.column(ci).total_compressed_size
    return rows, nbytes


_LINEAGE_COLS = ["stage", "unit", "status", "rows", "bytes", "wall_ms"]


def _append_lineage(spark: SparkSession, index_dir: str, rows: list[tuple]) -> None:
    """Driver-side transactional bookkeeping — written directly with pyarrow
    (a one-row Spark job costs seconds of python-worker spin-up; the manifest
    is metadata, not data). Files are write-once; readers see a row only
    after its file fully exists (the commit point)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(index_dir, "lineage")
    os.makedirs(p, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "stage": pa.array(cols[0], pa.string()),
            "unit": pa.array(cols[1], pa.string()),
            "status": pa.array(cols[2], pa.string()),
            "rows": pa.array(cols[3], pa.int64()),
            "bytes": pa.array(cols[4], pa.int64()),
            "wall_ms": pa.array(cols[5], pa.int64()),
        }
    )
    tmp = os.path.join(p, f".tmp-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(p, f"manifest-{uuid.uuid4().hex}.parquet"))


def _completed_units(spark: SparkSession, index_dir: str, stage: str) -> set[str]:
    import pyarrow.parquet as pq

    p = os.path.join(index_dir, "lineage")
    if not os.path.exists(p):
        return set()
    out: set[str] = set()
    for fn in os.listdir(p):
        if not fn.endswith(".parquet") or fn.startswith("."):
            continue
        t = pq.read_table(os.path.join(p, fn), columns=["stage", "unit", "status"])
        for s, u, st in zip(*(t.column(c).to_pylist() for c in ("stage", "unit", "status"))):
            if s == stage and st == "done":
                out.add(u)
    return out


def _concat_batches(batches) -> pd.DataFrame | None:
    parts = [p for p in batches if len(p)]
    if not parts:
        return None
    return pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]


def _group_bounds(*key_arrays: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Start/end offsets of equal-key runs over pre-sorted parallel arrays."""
    n = key_arrays[0].shape[0]
    change = np.zeros(n - 1, dtype=bool) if n > 1 else np.zeros(0, dtype=bool)
    for a in key_arrays:
        change |= a[1:] != a[:-1]
    idx = np.flatnonzero(change) + 1
    return np.r_[0, idx], np.r_[idx, n]


def _wave_metrics(wave_dir: str) -> tuple[int, int]:
    """Per-wave lineage metrics from parquet footers + one tiny column read
    (no Spark job): postings = sum of 'n'; bytes = compressed payload size of
    the three varbyte columns from column-chunk metadata."""
    import pyarrow.parquet as pq

    postings = 0
    nbytes = 0
    payload_cols = {"docids", "tfs", "doclens"}
    if not os.path.isdir(wave_dir):
        return 0, 0
    for fn in os.listdir(wave_dir):
        if not fn.endswith(".parquet") or fn.startswith("."):
            continue
        pf = pq.ParquetFile(os.path.join(wave_dir, fn))
        t = pf.read(columns=["n"])
        postings += int(t.column("n").to_pandas().sum())
        md = pf.metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema in payload_cols:
                    nbytes += col.total_compressed_size
    return postings, nbytes


def _doc_tokens_fn(
    id_col: str, text_col: str, url_col: str | None, n_shards: int, n_waves: int,
    with_positions: bool = False,
):
    """Stage A kernel: mapInPandas batches of (id, text[, url]) -> ONE packed
    row per doc (doc_id, doclen, url, terms, tfs, positions, shard, wave).

    Map-side tf: a document's term frequencies are purely local, counted per
    doc with collections.Counter (C-speed) — the build never shuffles a raw
    token. The doc's distinct terms are \x00-joined into ONE string and the
    counts packed into ONE int32 buffer, so a 40-distinct-term doc costs one
    JVM row instead of 40 (measured: the flat layout spent most of stage A
    wall in per-row JVM materialization after the UDF, not in tokenizing).

    Every doc emits a row even when empty — Stage B's doc_map is a pure
    column projection of this checkpoint.
    """
    from collections import Counter

    from ..analyzer.tokenizer import tokenize_text

    cols = ["doc_id", "doclen", "url", "terms", "tfs", "positions", "shard", "wave"]

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            doc_ids = pdf[id_col].to_numpy(np.int64)
            lens = np.empty(n, dtype=np.int64)
            terms_l: list = [None] * n
            tfs_l: list = [None] * n
            pos_l: list = [b""] * n
            for i, text in enumerate(pdf[text_col]):
                toks = tokenize_text(text)
                lens[i] = len(toks)
                if not toks:
                    terms_l[i] = ""
                    tfs_l[i] = b""
                    continue
                if with_positions:
                    # factorize: uniques in first-occurrence order; stable
                    # argsort of the codes = token offsets grouped by term,
                    # ascending within each term
                    codes, uniq = pd.factorize(
                        np.asarray(toks, dtype=object), sort=False
                    )
                    pos_l[i] = np.argsort(codes, kind="stable").astype(
                        np.int32
                    ).tobytes()
                    terms_l[i] = "\x00".join(uniq)
                    tfs_l[i] = np.bincount(codes).astype(np.int32).tobytes()
                else:
                    c = Counter(toks)
                    terms_l[i] = "\x00".join(c.keys())
                    tfs_l[i] = np.fromiter(
                        c.values(), dtype=np.int32, count=len(c)
                    ).tobytes()
            shard = (doc_ids % n_shards).astype(np.int32)
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "doclen": lens,
                    "url": pdf[url_col].to_numpy() if url_col else None,
                    "terms": terms_l,
                    "tfs": tfs_l,
                    "positions": pos_l,
                    "shard": shard,
                    "wave": (shard % n_waves).astype(np.int32),
                }
            )[cols]

    return gen


def _pack_partition_fn(n_buckets: int, with_positions: bool = False):
    """Phase 1 (split-local partials): stream the wave scan in bounded
    CHUNKS of packed doc rows; per chunk, expand, factorize terms to int
    codes, lexsort by (shard, bucket, term, doc_id) (pack needs group
    IDENTITY, not lexicographic term order — sorting strings here is pure
    waste), and emit ONE fat row per (shard, bucket) — see PARTIAL_SCHEMA.
    Runs map-side directly on the pruned wave scan (no shuffle): a head term
    fans out into at most n_chunks bounded runs per shard instead of one
    unbounded reducer row. bucket — the exchange distribution key — is a
    deterministic SipHash of the term (pandas hash_array, fixed key),
    computed once per DISTINCT term per chunk."""
    from itertools import chain

    def pack_chunk(pdfs: list[pd.DataFrame]):
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        tfs_bufs = pdf["tfs"].to_numpy()
        n_per_doc = np.fromiter(
            (len(b) >> 2 for b in tfs_bufs), dtype=np.int64, count=len(tfs_bufs)
        )
        terms_lists = [s.split("\x00") if s else [] for s in pdf["terms"]]
        all_terms = np.asarray(
            list(chain.from_iterable(terms_lists)), dtype=object
        )
        if all_terms.size == 0:
            return None
        tf_flat = np.frombuffer(b"".join(tfs_bufs), dtype=np.int32)
        ids_flat = np.repeat(pdf["doc_id"].to_numpy(np.int64), n_per_doc)
        dls_flat = np.repeat(
            pdf["doclen"].to_numpy(np.int64), n_per_doc
        ).astype(np.int32)
        shard_flat = np.repeat(pdf["shard"].to_numpy(np.int32), n_per_doc)
        codes, uniques = pd.factorize(all_terms, sort=False)
        n_uniq = np.int64(uniques.size)
        bucket_of = (pd.util.hash_array(uniques) % n_buckets).astype(np.int64)
        # composite int key: (shard, bucket, term-code), doc_id tiebreak
        sb = shard_flat.astype(np.int64) * n_buckets + bucket_of[codes]
        skey = sb * n_uniq + codes
        # group identity only — introsort is UNSTABLE, so posting order
        # within each run is arbitrary (the merge phase's single global
        # (term, shard, doc_id) sort establishes doc_id order; sorting ids
        # here too would sort every posting twice)
        order = np.argsort(skey)
        skey = skey[order]
        sb_s = skey // n_uniq
        codes_s = codes[order]
        ids = np.ascontiguousarray(ids_flat[order])
        tfs = np.ascontiguousarray(tf_flat[order])
        dls = np.ascontiguousarray(dls_flat[order])
        sub_starts, sub_ends = _group_bounds(skey)       # one run per term
        sup_starts, sup_ends = _group_bounds(sb_s)       # one row per (shard,bucket)
        if with_positions:
            pos_all = np.frombuffer(b"".join(pdf["positions"]), dtype=np.int32)
            pos_sorted = _permute_positions(tf_flat, pos_all, order)
            cum_tf = np.cumsum(tf_flat.astype(np.int64)[order])
            pos_bnd = np.r_[0, cum_tf] * 4  # byte offset before each sorted row
            pb = pos_sorted.tobytes()
        # map each super group to its sub-run range (both contiguous, aligned)
        sub_of_sup = np.searchsorted(sub_starts, sup_starts)
        sub_of_sup_end = np.searchsorted(sub_starts, sup_ends)
        rows = []
        for g, (s, e) in enumerate(zip(sup_starts, sup_ends)):
            lo, hi = sub_of_sup[g], sub_of_sup_end[g]
            t_codes = codes_s[sub_starts[lo:hi]]
            rows.append(
                (
                    int(sb_s[s] // n_buckets), int(sb_s[s] % n_buckets),
                    "\x00".join(uniques[t_codes]),
                    (sub_ends[lo:hi] - sub_starts[lo:hi]).astype(np.int32).tobytes(),
                    ids[s:e].tobytes(), tfs[s:e].tobytes(), dls[s:e].tobytes(),
                    pb[pos_bnd[s]:pos_bnd[e]] if with_positions else None,
                )
            )
        return pd.DataFrame(
            rows,
            columns=["shard", "bucket", "terms", "term_ns", "docids", "tfs",
                     "doclens", "positions"],
        )

    def pack(batches):
        held: list[pd.DataFrame] = []
        n_flat = 0
        for pdf in batches:
            if not len(pdf):
                continue
            held.append(pdf)
            n_flat += int(sum(len(b) >> 2 for b in pdf["tfs"]))
            if n_flat >= PACK_CHUNK_TERMS:
                out = pack_chunk(held)
                if out is not None:
                    yield out
                held, n_flat = [], 0
        if held:
            out = pack_chunk(held)
            if out is not None:
                yield out

    return pack


def _merge_partition_fn(avgdl: float, with_positions: bool = False):
    """Phase 2: expand the fat (shard, bucket) partial rows into per-term
    RUNS (numpy offset arithmetic; buffers stay zero-copy views), group runs
    by (shard, term) via factorized int keys, then one global
    (term, shard, doc_id) sort establishes posting order — run-internal
    order is ARBITRARY on arrival (pack's introsort is unstable), so no
    sorted-combine assumption is made. Then varbyte+block-max encode every
    list in one vectorized pass; (doc_id, term) uniqueness is enforced by
    encode_postings' strictly-ascending contract. Position blocks (raw
    int32, aligned to postings via tf) move with their posting."""
    from itertools import chain

    def merge(batches):
        pdf = _concat_batches(batches)
        if pdf is None:
            return
        nrow = len(pdf)
        terms_lists = [s.split("\x00") if s else [] for s in pdf["terms"]]
        all_terms = np.asarray(list(chain.from_iterable(terms_lists)), dtype=object)
        if all_terms.size == 0:
            return
        tn = np.frombuffer(b"".join(pdf["term_ns"]), dtype=np.int32).astype(np.int64)
        runs_per_row = np.fromiter(
            (len(b) >> 2 for b in pdf["term_ns"]), dtype=np.int64, count=nrow
        )
        # FLAT layout: rows are concatenated in pdf order, runs in row order,
        # postings in run order — so b"".join of the payload columns yields
        # posting-aligned flat arrays directly, no per-run views needed.
        # int32 payloads stay int32 through the gather (half the memory
        # traffic); the codec upcasts once on contiguous arrays
        ids_flat = np.frombuffer(b"".join(pdf["docids"]), dtype=np.int64)
        tfs_flat = np.frombuffer(b"".join(pdf["tfs"]), dtype=np.int32)
        dls_flat = np.frombuffer(b"".join(pdf["doclens"]), dtype=np.int32)
        pos_flat = (
            np.frombuffer(b"".join(pdf["positions"]), dtype=np.int32)
            if with_positions else None
        )
        shard_run = np.repeat(pdf["shard"].to_numpy(np.int64), runs_per_row)
        codes, uniques = pd.factorize(all_terms, sort=False)
        # ONE global lexsort groups every posting by (term, shard) and
        # doc_id-ascending within the group — the k-way merge of all runs in
        # a single vectorized pass (the per-group python loop this replaces
        # spent its wall in interpreter overhead and small-array churn)
        S = np.int64(int(shard_run.max()) + 1)
        gkey_post = np.repeat(codes.astype(np.int64) * S + shard_run, tn)
        # (group, doc_id) keys are UNIQUE, so a single unstable argsort on a
        # composite key replaces lexsort's two stable mergesort passes, and
        # the sorted ids/group-keys fall out ARITHMETICALLY (key % span,
        # key // span) instead of via extra random gathers — random DRAM
        # access is the resource 8 concurrent workers contend for. Falls
        # back to lexsort when the composite would overflow int64 (huge
        # doc_ids x many groups).
        # span stays a PYTHON int until the fast path is chosen: a doc_id of
        # INT64_MAX makes max+1 == 2**63, which np.int64() refuses with
        # OverflowError — exactly the huge-id case the lexsort fallback is
        # for, so the guard must run before any np.int64 conversion
        span_i = int(ids_flat.max()) + 1 if ids_flat.size else 1
        n_groups_bound = int(uniques.size) * int(S)
        if ids_flat.size and int(ids_flat.min()) >= 0 and span_i < 2**63 and (
            n_groups_bound < (2**63) // span_i
        ):
            span = np.int64(span_i)
            key = gkey_post * span + ids_flat
            order = np.argsort(key)
            key_s = key[order]
            gkey_s = key_s // span
            ids = key_s % span
        else:
            order = np.lexsort((ids_flat, gkey_post))
            gkey_s = gkey_post[order]
            ids = ids_flat[order]
        # one 8-byte-record gather moves tf+dl together (half the random
        # accesses of two separate gathers)
        rec = np.empty(ids_flat.size, dtype=[("tf", "<i4"), ("dl", "<i4")])
        rec["tf"] = tfs_flat
        rec["dl"] = dls_flat
        rec_s = rec[order]
        tfs = rec_s["tf"]
        dls = rec_s["dl"]
        # positions-only gather: ids/tfs/dls are already reordered above (key
        # arithmetic + the packed rec gather) — a full _permute here would
        # redo three O(n) random gathers just to discard them
        pos = (
            _permute_positions(tfs_flat, pos_flat, order)
            if with_positions else None
        )
        starts, ends = _group_bounds(gkey_s)
        gk = gkey_s[starts]
        out_codes = gk // S
        out_shards = (gk % S).astype(np.int64)
        encs = encode_postings_many(
            ids, tfs, dls, starts, ends, avgdl, positions=pos,
        )
        out = [
            (
                uniques[out_codes[i]], int(out_shards[i]), enc["n"], enc["docids"],
                enc["tfs"], enc["doclens"], enc["positions"], enc["blk_last"],
                enc["blk_max"], enc["max_tfc"], enc["sum_tf"],
            )
            for i, enc in enumerate(encs)
        ]
        yield pd.DataFrame(
            out,
            columns=[
                "term", "shard", "n", "docids", "tfs", "doclens", "positions",
                "blk_last", "blk_max", "max_tfc", "sum_tf",
            ],
        )

    return merge


def _corpus_stats(spark: SparkSession, doc_map_path: str) -> tuple[int, int]:
    """Exact (n_docs, total_tokens) of a doc_map table: row count from
    parquet footers (free), then either a driver-side pyarrow column read
    (doclen only, 8 bytes/doc — no Spark job) below DRIVER_STATS_MAX_ROWS,
    or one Spark agg above it. Both are exact; the guard keeps driver memory
    bounded at 10^12 docs."""
    n_docs, _ = _parquet_footer_stats(doc_map_path)
    if n_docs <= DRIVER_STATS_MAX_ROWS:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        _bound_driver_arrow_threads()
        dl = ds.dataset(doc_map_path).to_table(columns=["doclen"]).column("doclen")
        return n_docs, int(pc.sum(dl).as_py() or 0)
    row = spark.read.parquet(doc_map_path).agg(F.sum("doclen").alias("s")).collect()[0]
    return n_docs, int(row["s"] or 0)


def _write_terms(spark: SparkSession, segments_path: str, terms_path: str,
                 n_files: int) -> None:
    """Stage D: exact df(term) table — (term, df, max_tfc) sorted by term in
    `n_files` range files, so query-term lookups prune on parquet min/max
    statistics. Segment tables under DRIVER_STATS_MAX_ROWS rows (one row per
    (shard, term), counted from footers) aggregate on the driver: Stage D is
    a pure FIXED cost that does not shrink with executors, so at small scale
    the three Spark jobs (agg + range-sampler + write) cost more in
    scheduling than the work. Above the guard, one Spark aggregation."""
    seg_rows, _ = _parquet_footer_stats(segments_path)
    if seg_rows <= DRIVER_STATS_MAX_ROWS:
        _write_terms_driver_side(segments_path, terms_path, n_files)
        return
    terms = (
        spark.read.parquet(segments_path)
        .groupBy("term")
        .agg(F.sum("n").alias("df"), F.max("max_tfc").alias("max_tfc"))
        # checkpoint BEFORE repartitionByRange: its range sampler is a
        # separate job, so without this the (term) aggregation over the
        # segments scan runs TWICE (sample + write). Blocks are freed by the
        # ContextCleaner when the relation goes out of scope.
        .localCheckpoint(eager=True)
    )
    (
        terms.repartitionByRange(n_files, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(terms_path)
    )


def _write_terms_driver_side(segments_path: str, terms_path: str,
                             n_files: int) -> None:
    """Stage D fast path: exact df(term) aggregation on the driver with
    pyarrow. Content is identical to the Spark path of _write_terms.
    Publishes atomically (tmp dir + os.replace) with a _SUCCESS marker, like
    every other stage commit."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    _bound_driver_arrow_threads()
    schema = pa.schema([("term", pa.string()), ("df", pa.int64()),
                        ("max_tfc", pa.float64())])
    t = (
        ds.dataset(segments_path, format="parquet")
        .to_table(columns=["term", "n", "max_tfc"])
        .group_by("term")
        .aggregate([("n", "sum"), ("max_tfc", "max")])
        .select(["term", "n_sum", "max_tfc_max"])
        .rename_columns(["term", "df", "max_tfc"])
        .sort_by("term")
        .cast(schema)
    )
    tmp = terms_path + "_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = t.num_rows
    step = max(1, -(-n // n_files))
    for i, lo in enumerate(range(0, max(1, n), step)):
        pq.write_table(t.slice(lo, step), os.path.join(tmp, f"part-{i:05d}.parquet"),
                       row_group_size=65536)
    with open(os.path.join(tmp, "_SUCCESS"), "w"):
        pass
    shutil.rmtree(terms_path, ignore_errors=True)
    os.replace(tmp, terms_path)


def _permute_positions(tfs, pos, order):
    """Reorder position BLOCKS (variable length, tf each) by `order` via a
    vectorized block gather. Offset arithmetic is int64 regardless of the
    payload dtype (an int32 cumsum would wrap past 2^31 total positions per
    task)."""
    tf64 = tfs.astype(np.int64)
    src_off = np.cumsum(tf64) - tf64
    ord_tfs = tf64[order]
    dst_base = np.cumsum(ord_tfs) - ord_tfs
    within = np.arange(int(tf64.sum()), dtype=np.int64) - np.repeat(dst_base, ord_tfs)
    gather = np.repeat(src_off[order], ord_tfs) + within
    return pos[gather]


def _permute(ids, tfs, dls, pos, order):
    """Reorder postings by `order`; position blocks move with their posting
    (see _permute_positions)."""
    new_pos = _permute_positions(tfs, pos, order) if pos is not None else None
    return ids[order], tfs[order], dls[order], new_pos


def build_index(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
    n_shards: int | None = None,
    n_buckets: int = 32,
    n_salts: int = 4,
    n_waves: int | None = None,
    resume: bool = True,
    with_positions: bool = False,
    fail_after_waves: int | None = None,  # test hook: simulate a mid-build kill
) -> IndexMeta:
    spark = docs.sparkSession
    os.makedirs(index_dir, exist_ok=True)

    tokens_path = os.path.join(index_dir, "tokens")
    doc_map_path = os.path.join(index_dir, "doc_map")
    segments_path = os.path.join(index_dir, "segments")
    terms_path = os.path.join(index_dir, "terms")

    # resolve auto-sized params BEFORE the checkpoint guard so the guard can
    # compare the actual data shape a resume would inherit
    par = spark.sparkContext.defaultParallelism
    if n_shards is None or n_waves is None:
        n_docs_hint = docs.count()
        if n_shards is None:
            n_shards = max(4, min(4096, int(n_docs_hint // 250_000) + 4))
        if n_waves is None:
            # waves bound Stage C's per-job working set and give per-wave
            # resume granularity; below ~20M docs one wave is the right job
            # shape (extra waves just multiply stage fixed costs), at 10^12
            # docs this yields the capped 64 passes of ~1.5% of the corpus
            n_waves = max(1, min(64, int(n_docs_hint // 20_000_000) + 1))
    n_waves = min(n_waves, n_shards)

    # checkpoint guard: a partial build from an older code version OR from
    # different build parameters must rebuild, not resume — resuming across
    # an incompatible on-disk shape mis-reads the checkpoint (e.g. a tokens
    # checkpoint without positions resumed with with_positions=True indexes
    # an empty positions array in every Stage C task; a complete index
    # resumed with new params would skip every stage yet rewrite meta.json
    # claiming capabilities/shape the baked data lacks)

    # column bindings are part of the checkpoint identity: a tokens
    # checkpoint baked from text_col="body" resumed with text_col="title"
    # would silently build the whole index from the wrong column
    build_params = {"n_shards": n_shards, "n_buckets": n_buckets,
                    "n_waves": n_waves,
                    "with_positions": bool(with_positions),
                    "id_col": id_col, "text_col": text_col,
                    "url_col": url_col}
    layout_path = os.path.join(index_dir, "layout.json")
    found_ver, found_params = None, None
    if os.path.exists(layout_path):
        try:
            with open(layout_path) as f:
                _marker = json.load(f)
            found_ver = _marker.get("layout")
            found_params = _marker.get("params")
        except (ValueError, OSError):
            pass  # torn/unreadable marker == no marker: rebuild, don't brick
    if found_ver != LAYOUT_VERSION or found_params != build_params:
        stale = [
            p for p in (tokens_path, doc_map_path, segments_path, terms_path,
                        os.path.join(index_dir, "lineage"),
                        # meta.json is the build-complete marker: leaving a
                        # stale one would let FtsIndex.load (and the
                        # streaming publisher) treat a half-rebuilt dir as
                        # a complete index with the OLD stats
                        os.path.join(index_dir, "meta.json"))
            if os.path.exists(p)
        ]
        if stale:
            # destructive: never wipe silently — the user may be pointing at
            # a complete, working index from an older code version
            import logging

            logging.getLogger(__name__).warning(
                "build_index: on-disk layout %r / params %r at %s do not "
                "match current layout %r / params %r — removing stale index "
                "pieces %s and rebuilding from scratch",
                found_ver, found_params, index_dir, LAYOUT_VERSION,
                build_params, [os.path.basename(p) for p in stale],
            )
        for p in stale:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:  # rmtree raises (and ignores) on plain files like meta.json
                try:
                    os.remove(p)
                except OSError:
                    pass
        # write the marker only AFTER the cleanup succeeded, so a crash
        # mid-wipe re-enters this branch instead of resuming over debris;
        # tmp+rename so a crash MID-WRITE can never leave a torn JSON that
        # bricks every later load of this dir
        _tmp = layout_path + ".tmp"
        with open(_tmp, "w") as f:
            json.dump({"layout": LAYOUT_VERSION, "params": build_params}, f)
        os.replace(_tmp, layout_path)

    # ---- Stage A: tokenize ONCE -> flat tf rows, partitioned by wave --------
    # No shuffle: the flat mapInPandas kernel emits final rows and each map
    # task writes its own per-wave files (n_waves files per task). Wave
    # pruning in Stage C replaces the old per-shard partition pruning.
    if not (resume and _done(tokens_path)):
        t0 = time.time()
        sel = [F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")]
        if url_col:
            sel.append(F.col(url_col).alias("url"))
        # A single-row-group source file cannot be split by the planner (row
        # groups are the atomic scan unit), which would run the whole Stage A
        # tokenize kernel on one core; the guard no-ops on wide sources, so
        # the split-count tuning below stays in charge at scale.
        from ..pipeline.text import rebalance_narrow_scan

        docs = rebalance_narrow_scan(docs)
        tf = docs.select(*sel).mapInPandas(
            _doc_tokens_fn("doc_id", "text", "url" if url_col else None,
                            n_shards, n_waves, with_positions=with_positions),
            schema=TOKENS_WAVE_SCHEMA,
        )
        # Size the tokenize scan's splits so the task count is an exact
        # multiple of the cluster parallelism. Spark's own planner targets
        # totalBytes/defaultParallelism capped at 128MB — the cap can land
        # one task PAST a full round (measured: a 620MB-effective corpus on
        # 4 slots planned 5 tasks, so round two ran 1 task with 3 idle
        # cores, +30% stage wall), and finer-than-needed splits pay a
        # per-task python/writer handshake (~0.2-0.6s each, measured).
        # Keeping Spark's 128MB ceiling but rounding the split COUNT up to
        # a multiple of `par` removes the straggler round at every scale.
        # Conf changes bind at action time, scoped to exactly this write.
        tune: dict[str, str] = {}
        try:
            src_files = [
                f[len("file:"):] if f.startswith("file:") else f
                for f in docs.inputFiles()
            ]
            open_cost = 1 << 20
            src_bytes = (
                sum(os.path.getsize(f) for f in src_files)
                + open_cost * len(src_files)
            )
        except Exception:
            src_bytes = 0  # non-file source (e.g. in-memory test frames)
        if src_bytes:
            p = max(1, par)
            n_splits = -(-max(p, -(-src_bytes // (128 << 20))) // p) * p
            target = max(4 << 20, -(-src_bytes // n_splits) + (1 << 20))
            tune = {"spark.sql.files.maxPartitionBytes": str(target),
                    "spark.sql.files.openCostInBytes": str(open_cost)}
        old = {k: spark.conf.get(k, None) for k in tune}
        for k, v in tune.items():
            spark.conf.set(k, v)
        try:
            # parquet row groups are the atomic scan-split unit: coarse
            # tokenize tasks must not produce coarse ROW GROUPS, or Stage
            # C's bounded ~16MB pack splits degenerate (a split can't stop
            # mid-row-group, so one 84MB-row-group file = one fat task that
            # decompresses it whole: measured +47s run_sum, 11.7s GC).
            (tf.write.mode("overwrite")
             .option("parquet.block.size", str(SEG_TASK_TOKEN_BYTES * 4))
             .partitionBy("wave").parquet(tokens_path))
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        _append_lineage(
            spark, index_dir,
            [("tokens", "-", "done", 0, 0, int((time.time() - t0) * 1000))],
        )

    # ---- Stage B: doc_map = a column projection of the tokens checkpoint ----
    # Map-only: parquet column pruning skips the heavy terms/tfs columns; no
    # shuffle, no second pass over the text (every doc has exactly one row).
    if not (resume and _done(doc_map_path)):
        t0 = time.time()
        cols = ["doc_id", "doclen"] + (["url"] if url_col else [])
        # small splits: the projection reads 3 thin columns of a fat
        # checkpoint — default 128MB splits leave most executor slots idle
        old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       str(SEG_TASK_TOKEN_BYTES * 4))
        try:
            dm = spark.read.parquet(tokens_path).select(*cols)
            dm.write.mode("overwrite").parquet(doc_map_path)
        finally:
            if old_mpb is None:
                spark.conf.unset("spark.sql.files.maxPartitionBytes")
            else:
                spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        _append_lineage(
            spark, index_dir,
            [("doc_map", "-", "done", 0, 0, int((time.time() - t0) * 1000))],
        )
    n_docs, total_tokens = _corpus_stats(spark, doc_map_path)
    avgdl = (total_tokens / n_docs) if n_docs else 0.0

    # ---- Stage C: two-phase posting build, per wave --------------------------
    done_units = _completed_units(spark, index_dir, "segments") if resume else set()
    tf_all = spark.read.parquet(tokens_path)
    os.makedirs(segments_path, exist_ok=True)
    for w in range(n_waves):
        unit = f"wave-{w}"
        if unit in done_units:
            continue
        if fail_after_waves is not None and w >= fail_after_waves:
            raise RuntimeError(f"injected failure before wave-{w}")
        t0 = time.time()
        # wave-dir partition pruning; bucket is computed inside the pack
        # kernel (one hash per distinct term per chunk)
        tf = tf_all.filter(F.col("wave") == w).drop("url")
        # two-phase build with ONE exchange: phase 1 packs chunk-local fat
        # partial rows map-side directly on the pruned scan (no repartition —
        # no reducer ever receives raw per-posting rows); phase 2 k-way
        # merges the runs per (shard, term) grouped by (shard, bucket) over
        # an explicit partition count (NOT coupled to spark.sql.shuffle
        # .partitions). The wave writes FLAT files (shard stays a data
        # column — a dynamic partitionBy("shard") write made every merge
        # task sort and juggle n_shards open writers, +65% write wall at 8
        # cores) to a STAGING dir, then publishes with ONE atomic dir rename
        # to segments/wave=<w>/ AFTER the job commits: a crash anywhere
        # before the lineage row leaves the published tree untouched
        # (re-running the wave is exactly-once).
        #
        # p2 is sized by the wave's DATA VOLUME, floored by cluster width:
        # merge cost is superlinear in per-task payload (a task whose flat
        # posting arrays outgrow the python worker's recycled arena faults
        # every page; measured 123s -> 47s at 2 cores just from splitting
        # the same wave 8 -> 16 ways), so per-task input is pinned at a few
        # MB of compressed tokens regardless of how many executors showed up.
        wave_bytes = sum(
            os.path.getsize(os.path.join(dp, fn))
            for dp, _, fns in os.walk(os.path.join(tokens_path, f"wave={w}"))
            for fn in fns if fn.endswith(".parquet")
        )
        p2 = min(65536, max(2 * par, 8, -(-wave_bytes // SEG_TASK_TOKEN_BYTES)))
        # round the reducer count UP to a slot multiple: 81 merge tasks on
        # 4 slots leaves 3 slots idle for the whole 21st round (~1s of the
        # stage at bench scale, same shape at any scale)
        p2 = -(-p2 // max(1, par)) * max(1, par)
        partial = tf.mapInPandas(
            _pack_partition_fn(n_buckets, with_positions=with_positions),
            schema=PARTIAL_SCHEMA,
        )
        segs = partial.repartition(p2, "shard", "bucket").mapInPandas(
            _merge_partition_fn(avgdl, with_positions=with_positions),
            schema=SEGMENT_SCHEMA,
        )
        stage_dir = os.path.join(index_dir, f"_wave_stage_{w}")
        shutil.rmtree(stage_dir, ignore_errors=True)
        # pack tasks get the same bounded-payload treatment as merge tasks:
        # default 128MB scan splits hand one pack task ~10x the working set
        # the recycled worker arena holds (split planning happens at action
        # time, so the conf takes effect for exactly this job). As with the
        # tokenize scan, the split COUNT is rounded up to a slot multiple so
        # the last scheduling round is full.
        pack_cap = SEG_TASK_TOKEN_BYTES * 4
        n_pack = -(-max(max(1, par), -(-wave_bytes // pack_cap))
                   // max(1, par)) * max(1, par)
        pack_target = max(4 << 20, -(-wave_bytes // n_pack) + (1 << 20))
        old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(pack_target))
        try:
            segs.write.mode("overwrite").parquet(stage_dir)
        finally:
            if old_mpb is None:
                spark.conf.unset("spark.sql.files.maxPartitionBytes")
            else:
                spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        dst = os.path.join(segments_path, f"wave={w}")
        shutil.rmtree(dst, ignore_errors=True)
        os.replace(stage_dir, dst)
        postings, nbytes = _wave_metrics(dst)
        _append_lineage(
            spark, index_dir,
            [("segments", unit, "done", postings, nbytes,
              int((time.time() - t0) * 1000))],
        )

    # ---- Stage D: exact term df table (range-partitioned, sorted) -----------
    if not (resume and _done(terms_path)):
        t0 = time.time()
        _write_terms(spark, segments_path, terms_path, max(2, n_buckets // 4))
        _append_lineage(
            spark, index_dir,
            [("terms", "-", "done", 0, 0, int((time.time() - t0) * 1000))],
        )

    n_terms, _ = _parquet_footer_stats(terms_path)
    meta = IndexMeta(
        n_docs=n_docs,
        avgdl=avgdl,
        total_tokens=total_tokens,
        n_terms=n_terms,
        n_shards=n_shards,
        n_buckets=n_buckets,
        n_salts=n_salts,
        extras={"with_positions": with_positions},
    )
    meta.save(index_dir)  # build-complete marker, written last
    return meta
