"""Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Large-scale training-data dedup over the documents table. Design notes per
operator (scale first, oracle-parity second):

  * exact        — md5(text) groupBy; one shuffle keyed by a uniform hash, no
                   skew by construction.
  * n-gram Jaccard — shingle inverted index + self-join on shingle; exact
                   Jaccard from |A∩B| and set sizes. At 100 TB the hot
                   shingles dominate: `max_shingle_df` drops shingles shared
                   by more than a cap of documents (standard posting-cap
                   trick); with the cap at None the result is exact and
                   matches the DuckDB oracle.
  * MinHash+LSH  — portable signatures: minhash_i = min over shingles of
                   md5(shingle || ':' || i) (lexicographic min of hex —
                   identical in Spark and DuckDB, no engine-specific hash);
                   band key = md5 of the band's concatenated minhashes;
                   candidates = pairs sharing any band bucket.
  * SimHash      — 64-bit fingerprint from the md5 hex nibbles of each token,
                   tf-weighted bit votes; emitted as a 64-char '0'/'1' string
                   so the value is engine-portable.

Per-document computations (shingle sets, signatures, fingerprints) run as
Arrow-vectorized mapInPandas kernels (guide §4.2 — batch-oriented, never
per-row UDF dispatch); everything that joins or aggregates across documents
stays pure DataFrame ops. The kernels tokenize with `text._ascii_tokens`
and `text._ngrams`, the Python twins of the oracles' tokenizer, and every
bucket self-join's posting cap (`max_shingle_df`, `max_chunk_df`, and
winnow_pairs' `max_fp_df`) is `text._drop_hot`.
"""

from __future__ import annotations

import functools as _functools

import numpy as _np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .text import (
    REBALANCE_CHUNK_BYTES_HASHING,
    _ascii_tokens,
    _doc_local_kernel,
    _drop_hot,
    _ngrams,
    _shared_key_pairs,
)


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Duplicate groups by exact text hash: (text_hash, n_docs, keeper_doc_id)."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def _shingle_set_py(text: str, n: int) -> list | None:
    """Distinct token n-grams of one document, first-occurrence order —
    value-identical to the previous array_distinct(transform(sequence...))
    JVM formulation (dict.fromkeys preserves first occurrence exactly like
    array_distinct; every consumer is order-free anyway). None for docs
    with < n tokens (those emitted no row)."""
    toks = _ascii_tokens(text)
    if len(toks) < n:
        return None
    return list(dict.fromkeys(_ngrams(toks, n)))


def shingle_arrays(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(doc_id, shs: array<string>) — one row per doc with >= n tokens,
    carrying its distinct shingle set. One Arrow-vectorized kernel, zero
    shuffle (guide §4.2); the equivalent chain of higher-order JVM
    expressions (transform + slice + array_join + array_distinct) cost
    1-2 s of driver analysis/codegen per referencing plan."""
    return _doc_local_kernel(
        docs, id_col, text_col, lambda t: _shingle_set_py(t, n),
        "shs", "array<string>", chunk_bytes=REBALANCE_CHUNK_BYTES_HASHING,
    )


def shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) distinct token n-grams (space-joined)."""
    return shingle_arrays(docs, n, id_col, text_col).select(
        "doc_id", F.explode("shs").alias("shingle")
    )


# the pipeline-default posting cap of ngram_jaccard_pairs, applied by
# text._drop_hot like the opt-in caps of simhash_pairs and winnow_pairs
DEFAULT_MAX_SHINGLE_DF = 10_000


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, jaccard) with shingle-set Jaccard >=
    threshold.

    The shingle self-join fans out quadratically in a shingle's document
    frequency, so the DEFAULT caps it: `_drop_hot` drops shingles appearing
    in more than `max_shingle_df` docs from both the join and the set sizes
    and logs how many it dropped. Pass max_shingle_df=None for the exact
    quadratic semantics (small corpora / oracle checks only)."""
    if max_shingle_df is not None:
        # materialize the capped relation ONCE: it feeds three consumers
        # (sizes, both sides of the self-join); checkpoint blocks are freed
        # by the ContextCleaner with the result.
        sh = _drop_hot(shingles(docs, n, id_col, text_col), ["shingle"],
                       max_shingle_df, "shingles").localCheckpoint(eager=True)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    else:
        # exact mode: materialize ONE row per doc carrying its distinct
        # shingle ARRAY (~n_docs rows) instead of the exploded relation
        # (~n_docs x set_size rows) — set sizes become a map-side F.size
        # (the exploded layout needed a groupBy(doc_id) shuffle for them),
        # and both self-join sides re-explode the checkpointed arrays
        # map-side. Same standard "write the shingle table, then join it"
        # layout, smaller table, one fewer exchange.
        doc_sh = shingle_arrays(docs, n, id_col, text_col).localCheckpoint(
            eager=True
        )
        sizes = doc_sh.select("doc_id", F.size("shs").alias("set_size"))
        sh = doc_sh.select("doc_id", F.explode("shs").alias("shingle"))
    out = (
        _shared_key_pairs(sh, "shingle", "common")
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("set_size", "size_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("set_size", "size_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


N_HASHES = 8
BANDS = 4  # rows per band = N_HASHES // BANDS = 2


def _minhash_sig_py(text: str, n: int) -> list | None:
    """Pure-Python MinHash signature of one document — value-identical to
    the previous explode -> groupBy(doc_id) -> 8 x min(md5(shingle || ':i'))
    formulation: hashlib md5 hexdigest == Spark md5(), and Python's string
    min over lowercase hex == Spark's UTF8 binary min. Returns None for
    docs with < n tokens (the explode-based version emitted no row)."""
    import hashlib

    grams = _shingle_set_py(text, n)
    if grams is None:
        return None
    mins = [None] * N_HASHES
    for g in grams:
        for i in range(N_HASHES):
            h = hashlib.md5(f"{g}:{i}".encode("utf-8")).hexdigest()
            if mins[i] is None or h < mins[i]:
                mins[i] = h
    return mins


def minhash_signatures(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, h0..h7) portable MinHash signature over n-gram shingles.

    A signature is purely doc-local, so it is computed in ONE Arrow-
    vectorized kernel (guide §4.2) with zero shuffle — the previous
    shingle-explode -> groupBy(doc_id) -> 8 min-aggregation formulation
    shuffled every distinct (doc, shingle) row and paid ~2 s of driver
    analysis/codegen for its 8-way md5 aggregate tree per call. Values are
    bit-identical (see _minhash_sig_py); docs with < n tokens emit no row
    (unchanged contract)."""
    # denser rebalance budget: 8 digests per shingle, like the join path
    sig = _doc_local_kernel(
        docs, id_col, text_col, lambda t: _minhash_sig_py(t, n),
        "sig", "array<string>",
        chunk_bytes=REBALANCE_CHUNK_BYTES_HASHING,
    )
    return sig.select(
        "doc_id", *[F.col("sig")[i].alias(f"h{i}") for i in range(N_HASHES)]
    )


def minhash_lsh_pairs(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    Scale path: the join is keyed on (band_id, band_key) — bucket sizes are
    tiny for non-dup corpora, and the banding threshold ~ (1/BANDS)^(1/rows)
    governs recall exactly as in the MinHash literature.
    """
    # one row per doc — materialize once; the band fan-out (BANDS unioned
    # selects) and the self-join otherwise recompute the full shingle +
    # min-hash aggregation per consumer (8x observed in the executed plan)
    sig = minhash_signatures(docs, n, id_col, text_col).localCheckpoint(eager=True)
    rows_per_band = N_HASHES // BANDS
    # band fan-out as ONE explode over an array of (band_id, band_key)
    # structs — a union of BANDS selects instead re-scans the signature
    # relation once per band per join side (8x observed)
    band_structs = F.array(*[
        F.struct(
            F.lit(bnd).alias("band_id"),
            F.md5(F.concat_ws("|", *[
                F.col(f"h{bnd * rows_per_band + r}") for r in range(rows_per_band)
            ])).alias("band_key"),
        )
        for bnd in range(BANDS)
    ])
    allb = sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", "bk.band_id", "bk.band_key"
    )
    a, b = allb.alias("a"), allb.alias("b")
    return (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _simhash64_py(text: str) -> str | None:
    """Pure-Python SimHash of one document — integer-exact mirror of the
    oracle formula: bit_b = sign(sum over distinct tokens of
    tf * (2*bit_b(md5(token)) - 1)), bit_b from the md5 hex nibbles
    (nibble = bit//4, offset-within-nibble = bit%4). All-integer math, so
    the value is identical to the previous 64-column JVM-expression
    formulation and to the DuckDB oracle. Returns None for docs with no
    tokens (the explode-based formulation emitted no row for them)."""
    from collections import Counter

    toks = _ascii_tokens(text)
    if not toks:
        return None
    votes = _np.zeros(64, dtype=_np.int64)
    for term, tf in Counter(toks).items():
        votes += tf * _term_bitvec(term)
    return "".join("1" if v > 0 else "0" for v in votes)


@_functools.lru_cache(maxsize=1 << 20)
def _term_bitvec(term: str) -> "_np.ndarray":
    """±1 vote vector (int64[64]) for one token, memoized per worker: md5 is
    paid once per distinct term per Python worker, not once per occurrence."""
    import hashlib

    h = hashlib.md5(term.encode("utf-8")).hexdigest()
    out = _np.empty(64, dtype=_np.int64)
    for bit in range(64):
        nib, off = divmod(bit, 4)
        out[bit] = 2 * ((int(h[nib], 16) >> off) & 1) - 1
    return out


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash as a '0'/'1' string (engine-portable value).

    bit_b = sign( sum over distinct tokens of tf * (2*bit_b(md5(token)) - 1) )
    where bit_b comes from the b-th bit of the md5 hex nibbles.

    One Arrow-vectorized kernel per batch (guide §4.2), zero shuffle: a
    document's fingerprint is purely doc-local, so tokenize + tf counting +
    bit votes all happen map-side in one pandas UDF (integer math — exactly
    the value the previous explode -> groupBy(doc_id, term) -> 64-column
    vote aggregation produced, pinned by tests). The old formulation also
    cost ~3 s of DRIVER time per call just to analyze/compile its ~1500-node
    expression tree; this plan is one ArrowEvalPython node. Docs with no
    tokens emit no row (unchanged contract)."""
    return _doc_local_kernel(docs, id_col, text_col, _simhash64_py,
                             "simhash", "string")


def _hamming64(a, b):
    """Hamming distance between two 64-char '0'/'1' strings, JVM-side:
    4 x (16-bit chunk -> long -> xor -> bit_count). No UDF."""
    parts = None
    for i in range(4):
        ca = F.conv(F.substring(a, i * 16 + 1, 16), 2, 10).cast("long")
        cb = F.conv(F.substring(b, i * 16 + 1, 16), 2, 10).cast("long")
        p = F.bit_count(ca.bitwiseXOR(cb))
        parts = p if parts is None else parts + p
    return parts


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_chunk_df: int | None = None,
) -> DataFrame:
    """EXACT near-dup pairs (doc_a < doc_b, hamming) with SimHash hamming
    distance <= max_hamming, found WITHOUT an all-pairs product.

    Bit-chunk bucketing (pigeonhole): split the 64-bit fingerprint into
    max_hamming+1 chunks — any pair within hamming r must agree exactly on at
    least one chunk, so candidates = pairs sharing any (chunk_id, chunk_value)
    bucket, then an exact hamming filter. The join is equi-keyed on the
    chunk value: bucket sizes stay tiny for non-degenerate corpora and the
    shuffle is uniform (chunk values are hash-like). This is the standard
    Manku/Jain/Sarma web-dedup layout re-expressed as a DataFrame equi-join.

    `max_chunk_df` caps bucket size with `_drop_hot`, like
    ngram_jaccard_pairs' max_shingle_df: a degenerate corpus (thousands of
    near-empty docs sharing a chunk value — template boilerplate at crawl
    scale) makes one bucket quadratic; chunks with df above the cap are
    dropped from the candidate join with a logged count (pairs agreeing
    ONLY on dropped chunks are not reported). None = exact semantics
    (oracle checks).
    """
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    # one row per doc — materialize once; the chunk fan-out and self-join
    # otherwise recompute the 64-bit vote aggregation per consumer (2 x
    # n_chunks = 8x observed in the executed plan)
    sig = simhash_fingerprints(docs, id_col, text_col).localCheckpoint(eager=True)
    # chunk fan-out as ONE explode (see minhash_lsh_pairs); the last chunk
    # absorbs the remainder bits
    chunk_structs = F.array(*[
        F.struct(
            F.lit(c).alias("chunk_id"),
            F.substring(
                "simhash", c * width + 1,
                width if c < n_chunks - 1 else 64 - width * (n_chunks - 1),
            ).alias("chunk_val"),
        )
        for c in range(n_chunks)
    ])
    allc = sig.select("doc_id", "simhash", F.explode(chunk_structs).alias("ck")).select(
        "doc_id", "simhash", "ck.chunk_id", "ck.chunk_val"
    )
    allc = _drop_hot(allc, ["chunk_id", "chunk_val"], max_chunk_df,
                     "chunk buckets")
    a, b = allc.alias("a"), allc.alias("b")
    return (
        a.join(b, ["chunk_id", "chunk_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            _hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def cross_contamination(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 3,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Benchmark decontamination: (doc_id, probe_id, shared_shingles) for
    every corpus doc sharing >= min_shared distinct token n-grams with a
    probe document — the train/test-overlap scan every LLM data pipeline
    runs before training (probes = the evaluation suites).

    Scale shape differs from the self-join dedups: the probe side is
    benchmark-sized (10^5-10^6 shingles), so it BROADCASTS — the 10^12-doc
    corpus side streams map-side through a broadcast hash join and never
    shuffles; the only exchange is the (doc_id, probe_id) count over
    matching rows, which is bounded by actual contamination, not corpus
    size."""
    sh_c = shingles(corpus, n, id_col, text_col)
    sh_p = shingles(probes, n, probe_id_col, text_col).withColumnRenamed(
        "doc_id", "probe_id"
    )
    return (
        sh_c.join(F.broadcast(sh_p), "shingle")
        .groupBy("doc_id", "probe_id")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_shared)
    )
