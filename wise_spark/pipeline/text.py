"""Text analysis for training-data pipelines: token stats, quality features,
language-ID heuristic, document fingerprints.

All computations are expressible in both Spark DataFrame ops and ANSI SQL
(the driver's DuckDB oracle), so every function here has an exact oracle.
Tokenization here uses the ASCII fast path (runs of [a-z0-9] on lowered
text) — equal to the engine analyzer on ASCII corpora and expressible as
`regexp_extract_all` in DuckDB.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

ASCII_TOKEN_RE = "[a-z0-9]+"
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def _toks(text_col: str):
    # regexp_extract_all is JVM-side (whole-stage codegen) — no Python UDF
    return F.expr(f"regexp_extract_all(lower({text_col}), '{ASCII_TOKEN_RE}', 0)")


def _effective_scan_parallelism(df: DataFrame, planned: int) -> int:
    """Upper-bound the number of tasks that will actually carry rows.

    `df.rdd.getNumPartitions()` counts PLANNED byte-range splits, but Spark
    cannot split a parquet file below row-group granularity — each row group
    is assigned to the one split containing its midpoint, so a fat
    single-row-group file yields many planned splits of which exactly one
    carries every row. Effective parallelism is therefore
    min(planned, total row groups). Row-group counts come from driver-side
    footer reads (pyarrow, metadata only — a few KB per file); with more
    than 64 local files the count is extrapolated from a 64-file sample,
    and any non-local / non-parquet / unreadable source falls back to the
    planner's number (at real scale — thousands of files on object storage
    — the planner count is already honest)."""
    try:
        files = df.inputFiles()
    except Exception:
        return planned
    pq_files = [f for f in files if f.endswith(".parquet")]
    if not pq_files or len(pq_files) != len(files):
        return planned
    local = []
    for f in pq_files:
        if f.startswith("file:"):
            local.append("/" + f.split(":", 1)[1].lstrip("/"))
        elif f.startswith("/"):
            local.append(f)
        else:
            return planned
    try:
        import pyarrow.parquet as pq

        sample = local[:64]
        rgs = sum(pq.ParquetFile(p).metadata.num_row_groups for p in sample)
        total_rgs = int(rgs * (len(local) / len(sample)))
        return min(planned, max(total_rgs, 1))
    except Exception:
        return planned


# Per-task byte budget for the small-input rebalance target below. ~256 KB
# of source bytes is several milliseconds of tokenize/shingle CPU per task —
# small enough that no core sits on a straggler, large enough that a tiny
# corpus does not fan out into dozens of near-empty map tasks whose shuffle
# files dominate the stage (guide §2.2: fewer, larger map tasks; measured at
# sf0.1: a 32-task map feeding a 64-partition exchange costs ~0.5 s of pure
# overhead vs ~0.1 s from 3 tasks).
REBALANCE_CHUNK_BYTES = 256 << 10


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the plan (file bytes for source scans,
    propagated upward for filters/unions). Used only to SIZE the rebalance
    target — a wrong estimate degrades to the previous fixed behavior."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


# Denser budget for md5-heavy operators (minhash: 8 digests per shingle,
# winnowing: one digest per token 4-gram): their per-source-byte CPU is
# ~10x the tokenize kernels', so they saturate a task at ~32 KB of source.
REBALANCE_CHUNK_BYTES_HASHING = 32 << 10


def rebalance_narrow_scan(df: DataFrame, chunk_bytes: int | None = None) -> DataFrame:
    """Re-balance a NARROW source before CPU-heavy per-row text work.

    Spark cannot split a parquet scan below row-group granularity, so a
    low file count (or fat single-row-group files — this repo's testdata
    fixtures) leaves the whole tokenize/shingle pipeline on a handful of
    cores while the rest of the cluster idles (measured at sf0.1: the
    5000-doc scan is ONE task; shingle emission 3.1 s -> 1.0 s on 32 cores
    after rebalancing). When the source can keep at most half the
    scheduler's slots busy — judged on EFFECTIVE row-carrying tasks
    (row-group-aware, see _effective_scan_parallelism), not the planner's
    byte-range split count — pay one narrow exchange of the raw rows to
    spread the CPU-bound work; on a healthy wide scan (100 TB: thousands
    of row groups) the guard makes this a no-op, so no shuffle is ever
    added at scale.

    The target is SIZE-AWARE (guide §2 "derive partitioning from input
    size, not a constant"): capped at ~REBALANCE_CHUNK_BYTES of estimated
    source bytes per task, so a KB-scale input gets 1-3 tasks instead of a
    cluster-width fan-out whose per-task shuffle-file overhead dwarfs the
    compute; a large input still gets the full scheduler width (the cap
    only ever LOWERS the target below defaultParallelism for small
    inputs — at scale the estimate exceeds width x chunk and the behavior
    is exactly the old one)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    chunk = chunk_bytes or REBALANCE_CHUNK_BYTES
    est = _plan_size_bytes(df)
    if est is not None and 0 <= est < target * chunk:
        target = max(1, -(-est // chunk))
    planned = df.rdd.getNumPartitions()
    if _effective_scan_parallelism(df, planned) * 2 <= target:
        return df.repartition(target)
    return df


def _doc_local_kernel(docs: DataFrame, id_col: str, text_col: str, fn,
                      out_col: str, out_type: str,
                      chunk_bytes: int | None = None) -> DataFrame:
    """(doc_id, out_col) from a pure per-document Python function, as ONE
    Arrow-vectorized mapInPandas pass AFTER the rebalance exchange.

    mapInPandas (not a scalar pandas_udf) deliberately: the optimizer pushes
    a scalar-UDF projection BELOW a round-robin repartition to shuffle fewer
    bytes, which re-serializes the whole kernel onto the narrow scan's 1-2
    tasks — exactly the core-starvation rebalance_narrow_scan exists to fix
    (observed: a 2-task 2.1 s stage doing every md5 while 16 repartitioned
    tasks sat idle). mapInPandas is a barrier the optimizer does not
    transpose with the exchange. Docs where fn returns None emit no row."""
    id_type = docs.schema[id_col].dataType.simpleString()
    src = rebalance_narrow_scan(docs, chunk_bytes=chunk_bytes).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
    )

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = pd.DataFrame({
                "doc_id": pdf["doc_id"],
                out_col: pdf["_text"].map(fn, na_action=None),
            })
            yield out[out[out_col].notna()]

    return src.mapInPandas(
        kernel, schema=f"doc_id {id_type}, {out_col} {out_type}"
    )


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct) per document."""
    return rebalance_narrow_scan(docs).select(
        F.col(id_col).alias("doc_id"),
        F.size(_toks(text_col)).alias("n_tokens"),
        F.size(F.array_distinct(_toks(text_col))).alias("n_distinct"),
    )


def quality_features(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc quality scoring: length, lexical diversity, stopword ratio,
    mean token length — the usual web-corpus filters, rounded for stability.

    Zero-token documents (empty or punctuation-only — routine at crawl
    scale) get NULL ratios: the divisor is NULLIF(n, 0), because under
    Spark 4's default ANSI mode a bare divide would kill the whole JOB on
    the first empty doc."""
    toks = _toks(text_col)
    sw = F.array([F.lit(s) for s in STOPWORDS])
    n = F.size(toks)
    n_safe = F.nullif(n, F.lit(0))
    return rebalance_narrow_scan(docs).select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).alias("n_chars_obs"),
        n.alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks)) / n_safe, 6).alias("type_token_ratio"),
        F.round(
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            )
            / n_safe,
            6,
        ).alias("mean_token_len"),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / n_safe, 6
        ).alias("stopword_ratio"),
    )


def lang_guess(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic language ID: English stopword density threshold (the shape
    of an n-gram langid pass; deterministic and oracle-expressible).
    Zero-token docs get NULL ratio and lang_guess='unknown' instead of an
    ANSI divide-by-zero job failure."""
    toks = _toks(text_col)
    sw = F.array([F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / F.nullif(
        F.size(toks), F.lit(0)
    )
    return rebalance_narrow_scan(docs).select(
        F.col(id_col).alias("doc_id"),
        F.round(ratio, 6).alias("en_stopword_ratio"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("unknown")).alias("lang_guess"),
    )


def repetition_features(
    docs: DataFrame,
    ns: tuple[int, ...] = (2, 3),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style per-document repetition features (Rae et al. 2021,
    "Scaling Language Models", Appendix A quality filters). For each n in
    `ns`:

      dup_{n}gram_frac      — fraction of n-gram OCCURRENCES that repeat an
                              earlier occurrence: (occ - distinct) / occ.
      top_{n}gram_char_frac — character mass of the heaviest single n-gram,
                              max over grams of (count * len(gram)), divided
                              by the document's character count. Taking the
                              max of the char-mass product (rather than
                              chars of the argmax-by-count gram) makes the
                              value deterministic without a tie-break rule.
                              Overlapping occurrences re-count their chars,
                              so degenerate docs can score > 1.0 — it is a
                              repetition SCORE to threshold on, not a
                              fraction of distinct characters.

    Docs with fewer than n tokens emit NULL features for that n (the outer
    explode preserves the row even when every n is too long).

    Scale: every feature is purely doc-local, so ONE Arrow-vectorized
    kernel per batch (guide §4.2) computes all requested n with ZERO
    shuffle — the previous formulation exploded one tagged (n, gram) row
    per n-gram occurrence and aggregated it back in two exchanges, plus a
    ~2 s/call driver analysis+codegen bill for its higher-order expression
    trees. Numeric parity with that formulation (and the oracle) is exact:
    counts and char masses are integers, the two divisions are the same
    int-exact-double / int-exact-double IEEE operations, and the 6 dp
    HALF_UP rounding stays JVM-side (Python's round() is banker's — never
    used here)."""
    from collections import Counter

    def rep_one(text: str) -> dict:
        import re as _re

        toks = (_re.findall(ASCII_TOKEN_RE, text.lower())
                if text is not None else [])
        n_chars = len(text) if text is not None else 0
        out: dict = {}
        for n in ns:
            if len(toks) < n:
                out[f"d{n}"] = None
                out[f"t{n}"] = None
                continue
            cnt = Counter(
                " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
            )
            occ = sum(cnt.values())
            dis = len(cnt)
            out[f"d{n}"] = (occ - dis) / occ
            out[f"t{n}"] = max(c * len(g) for g, c in cnt.items()) / n_chars
        return out

    struct_type = ",".join(f"d{n}:double,t{n}:double" for n in ns)
    raw = _doc_local_kernel(docs, id_col, text_col, rep_one,
                            "r", f"struct<{struct_type}>")
    return raw.select(
        "doc_id",
        *[c
          for n in ns
          for c in (F.round(F.col(f"r.d{n}"), 6).alias(f"dup_{n}gram_frac"),
                    F.round(F.col(f"r.t{n}"), 6).alias(f"top_{n}gram_char_frac"))]
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Order-insensitive bag fingerprint: md5 over the sorted distinct token
    list — catches shuffled/reordered near-copies (our corpus tie docs)."""
    toks = F.array_sort(F.array_distinct(_toks(text_col)))
    return rebalance_narrow_scan(docs).select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.array_join(toks, " ")).alias("bag_fingerprint"),
        F.md5(F.col(text_col)).alias("exact_fingerprint"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003, the
    MOSS algorithm): rolling k-gram hashes, one selected per w-window.

    (doc_id, fp) — fp is the 8-hex-char prefix of md5 over the space-joined
    token k-gram; from each window of w consecutive gram hashes the MINIMUM
    is selected (fixed-length lowercase hex, so lexicographic min ==
    numeric min — identical in Spark and ANSI SQL), then selections are
    deduplicated per doc. Guarantee: any shared token run of length >=
    k + w - 1 produces at least one shared fingerprint, while only
    ~2/(w+1) of the gram hashes survive — so a fingerprint inverted index
    (or a pair self-join like ngram_jaccard's) moves ~w/2 x fewer rows for
    the same detection floor. Docs with fewer than k + w - 1 tokens emit no
    rows. Everything is per-row higher-order JVM expressions — the only
    rows that ever leave a map task are the selected fingerprints."""
    def winnow_one(text: str) -> list | None:
        # value-identical to the previous higher-order-expression
        # formulation: hashlib md5 hex == Spark md5(); min over a window of
        # fixed-length lowercase hex strings is the same lexicographic min;
        # sorted(set(...)) == array_sort(array_distinct(...))
        import hashlib
        import re as _re

        toks = _re.findall(ASCII_TOKEN_RE, text.lower()) if text is not None else []
        if len(toks) < k + w - 1:
            return None
        hs = [
            hashlib.md5(" ".join(toks[i:i + k]).encode("utf-8")).hexdigest()[:8]
            for i in range(len(toks) - k + 1)
        ]
        wins = {min(hs[i:i + w]) for i in range(len(hs) - w + 1)}
        return sorted(wins)

    # One Arrow-vectorized kernel per batch (guide §4.2), zero shuffle: the
    # fingerprint selection is purely doc-local. The previous nested
    # higher-order-function formulation (transform-of-slice-of-md5 feeding
    # sliding array_min windows) was correct and O(T) in digests, but its
    # generated code cost multiple seconds of driver analysis + Janino
    # compilation per call (measured: 6.4 s first run, 1.5 s steady at
    # sf0.1); this plan is one MapInPandas node.
    fps = _doc_local_kernel(docs, id_col, text_col, winnow_one,
                            "fps", "array<string>",
                            chunk_bytes=REBALANCE_CHUNK_BYTES_HASHING)
    return fps.select("doc_id", F.explode("fps").alias("fp"))


def winnow_pairs(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_fp_df: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs (doc_a < doc_b, shared_fps) sharing >=
    min_shared winnowing fingerprints — the MOSS pair search as a bucketed
    equi-join on fp (exactly ngram_jaccard's inverted-index shape, but over
    the winnowed ~2/(w+1) subset, so the self-join fan-out shrinks
    quadratically in the selection rate).

    `max_fp_df` caps bucket size like ngram_jaccard_pairs' max_shingle_df:
    a template fingerprint shared by a whole crawl shard would make one fp
    bucket quadratic; fps with df above the cap are dropped with a logged
    count (shared_fps undercounts by the dropped fps, so pairs held
    together ONLY by template boilerplate disappear — usually the desired
    behavior). None = exact semantics (oracle checks)."""
    fp = winnow_fingerprints(docs, k, w, id_col, text_col)
    # the fp relation always feeds at least two consumers (both self-join
    # sides; with the cap also the hot count and anti-join probe) —
    # materialize the fingerprint pipeline once, mirroring
    # simhash_pairs/ngram_jaccard_pairs (previously only the capped path
    # checkpointed, so the default path ran the whole rolling-md5 kernel
    # and its plan compilation twice)
    fp = fp.localCheckpoint(eager=True)
    if max_fp_df is not None:
        hot = (
            fp.groupBy("fp").agg(F.count(F.lit(1)).alias("fdf"))
            .filter(F.col("fdf") > max_fp_df)
            .localCheckpoint(eager=True)
        )
        n_hot = hot.count()
        if n_hot:
            import logging

            logging.getLogger(__name__).warning(
                "winnow_pairs: dropped %d fingerprints with df > %d "
                "(pairs sharing only dropped fps are not reported)",
                n_hot, max_fp_df,
            )
        fp = fp.join(hot.select("fp"), "fp", "left_anti")
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# PII-ish surface patterns — deliberately simple, ASCII, and Java/RE2-dual
# (no lookaround, no backreferences) so the identical pattern strings run on
# Spark (Java regex) and the DuckDB oracle (RE2). These are detector inputs
# for curation decisions (mask / drop / route to a redaction pass), not a
# compliance-grade PII system.
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
PII_IPV4_RE = "\\b(?:[0-9]{1,3}[.]){3}[0-9]{1,3}\\b"
PII_URL_RE = "https?://[^ \\t\\n]+"
PII_PHONE_RE = "\\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ]?[0-9]{0,4}\\b"


def pii_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc counts of PII-ish surface patterns (emails, IPv4 literals,
    inline URLs, phone-shaped digit runs) — the detector stage of the
    standard web-corpus redaction/filter pass (Dolma/C4-style). Pure JVM
    `regexp_count` per row: zero shuffle, whole-stage codegen, and the
    pattern strings are shared verbatim with the DuckDB oracle."""
    t = F.lower(F.col(text_col))
    return rebalance_narrow_scan(docs).select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).alias("n_ipv4"),
        F.regexp_count(t, F.lit(PII_URL_RE)).alias("n_urls"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).alias("n_phones"),
    )


def duplicate_lines(
    docs: DataFrame,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(line, line_df) for non-blank lines appearing in >= min_df distinct
    documents — the detection half of C4's line-level dedup (Raffel et al.
    2020 §2.2 removed any three-sentence-or-longer span occurring more than
    once; the line granularity is the common production variant for
    boilerplate like cookie banners and nav text).

    Scale: one explode of per-doc DISTINCT lines (so df counts documents,
    not occurrences), then a single map-side-combined groupBy keyed by the
    line string — a hot boilerplate line costs its reducer one combined
    count per upstream partition, never a row explosion."""
    lines = (
        rebalance_narrow_scan(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(F.split(F.col(text_col), "\n"))).alias("line"),
        )
        .where(F.length(F.trim(F.col("line"))) > 0)
        # array_distinct dedups within one ROW only — a doc_id appearing in
        # several input rows (unioned shards) must still count once
        .dropDuplicates(["doc_id", "line"])
    )
    return (
        lines.groupBy("line")
        .agg(F.count(F.lit(1)).alias("line_df"))
        .filter(F.col("line_df") >= min_df)
    )


def strip_duplicate_lines(
    docs: DataFrame,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, text) with every line occurring in >= min_df distinct docs
    removed — C4's boilerplate strip as a left-anti join against the
    duplicate-line relation.

    Input contract: ONE row per doc_id. Line positions restart per input
    row, so a doc_id split across several input rows (unioned shards)
    would have its rows' lines interleaved by position in the reassembled
    text — pre-aggregate shards (e.g. groupBy(doc_id) + concat) first;
    `duplicate_lines` by contrast accepts multi-row docs.

    Blank lines are dropped, and a doc whose
    every line is blank or boilerplate DROPS OUT of the result entirely
    (no empty-text row) — count doc_ids against the input when cardinality
    matters; this deliberately differs from this module's row-preserving
    per-doc feature functions. Line order is preserved via posexplode +
    an order-pinned re-aggregation (collect_list alone has no ordering
    guarantee after a shuffle).

    Scale: ONE corpus scan/split — the exploded relation is materialized
    once (localCheckpoint) and feeds both the df count and the anti-join;
    the anti-join shuffles (line, doc_id, pos) rows keyed by the line
    string — bounded by corpus line count; the dup-line relation is a
    corpus-wide aggregate, NOT broadcast (at crawl scale it can be
    arbitrarily large)."""
    exploded = (
        rebalance_narrow_scan(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .where(F.length(F.trim(F.col("line"))) > 0)
        .localCheckpoint(eager=True)
    )
    dup = (
        exploded.dropDuplicates(["doc_id", "line"])
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("line_df"))
        .filter(F.col("line_df") >= min_df)
        .select("line")
    )
    kept = exploded.join(dup, "line", "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text")
        )
    )
