"""Query surface: boolean composition, blocklist, rank assignment, CSV export.

Mirrors the reference's query semantics on doc-granular results:
  * NOT-IN subtract  — anti-join of hits (reference `apply_subtract`,
    /root/reference/search.py:161-190; ours keys on doc_id — the reference
    keys on (filename, overlapping segment) because its docs are time-ranged);
  * AND merge        — intersection with score = score0 + score1 and re-sort
    (reference `merge1`, /root/reference/search.py:393-445);
  * OR merge         — union with max-score dedup (the reference PARSES `or`
    but never executes it, /root/reference/src/search/query_parser.py:37,
    156-167 — we implement it properly);
  * blocklist        — exact match of the stripped query against a configured
    set (reference /root/reference/api/routes.py:1227-1234, config.py:18);
  * CSV export       — reference header analog `query,rank,doc_id,score`
    (/root/reference/search.py:451).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# A SearchResult is any DataFrame with (doc_id: long, score: double).
SearchResult = DataFrame


class BlockedQueryError(Exception):
    """Raised when a query exactly matches the blocklist (reference: HTTP 403)."""


def check_blocklist(query: str, blocklist: set[str] | None) -> None:
    if blocklist and query.strip() in blocklist:
        raise BlockedQueryError(query.strip())


def subtract(results: SearchResult, not_results: SearchResult) -> SearchResult:
    """Drop hits whose doc_id appears in the NOT-IN result (left_anti)."""
    return results.join(not_results.select("doc_id"), "doc_id", "left_anti")


def and_merge(a: SearchResult, b: SearchResult) -> SearchResult:
    """Intersection; merged score = sum (equi-join on doc_id -> hash join,
    never a cross product — the reference loops over the full product)."""
    return (
        a.select("doc_id", F.col("score").alias("_s0"))
        .join(b.select("doc_id", F.col("score").alias("_s1")), "doc_id")
        .select("doc_id", (F.col("_s0") + F.col("_s1")).alias("score"))
    )


def or_merge(a: SearchResult, b: SearchResult) -> SearchResult:
    """Union with per-doc max score (documented OR semantics)."""
    return (
        a.select("doc_id", "score")
        .unionByName(b.select("doc_id", "score"))
        .groupBy("doc_id")
        .agg(F.max("score").alias("score"))
    )


def ranked(result: SearchResult, k: int) -> DataFrame:
    """Top-k of result with rank = position under (score desc, doc_id asc).

    Rank is carried as an explicit column so joins can't destroy order
    (reference keeps order with `ORDER BY CASE id ...`,
    /root/reference/src/repository/__init__.py:65-74).

    Scale shape: top-k FIRST via orderBy().limit(k) — Catalyst plans
    TakeOrderedAndProject (per-partition heaps + tiny driver merge) — and the
    rank window runs over <= k surviving rows.
    """
    topk = result.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))  # <= k rows
    return topk.withColumn("rank", F.row_number().over(w) - 1).orderBy("rank")


def ranked_per(result: DataFrame, k: int, per: str = "query_id") -> DataFrame:
    """Per-group top-k rank under the SAME convention as `ranked()` —
    0-based row_number over (score desc, doc_id asc) — partitioned by `per`.

    This is the single owner of the rank contract for MULTI-query relations
    (the eval harness); keeping it next to `ranked()` means a tie-break or
    base change lands in both paths at once. Scale shape: the window is
    partitioned by `per`, so each group ranks independently (hash-uniform,
    no single-partition funnel); rows beyond rank k-1 are dropped."""
    w = Window.partitionBy(per).orderBy(F.desc("score"), F.asc("doc_id"))
    return result.withColumn("rank", F.row_number().over(w) - 1).filter(
        F.col("rank") < k
    )


MAX_PAGE_END = 1000    # reference /root/reference/api/routes.py:1216 (le=1000)
MAX_PAGE_START = 980   # reference routes.py:1215 (le=980)


def page(result: SearchResult, start: int = 0, end: int = 20) -> DataFrame:
    """Result slice [start, end) with the reference's /search paging
    bounds (/root/reference/api/routes.py:1214-1216,1377-1381):
    0 <= start <= 980, 0 < end <= 1000, start <= end.

    INTENTIONAL divergence from the reference on short results: the
    reference clamps `end` to the result size BEFORE the start>end check, so
    start=50,end=100 over a 30-row result is an HTTP 400. Knowing the result
    size here would cost an extra count() job on an unbounded relation, so
    this DataFrame API instead validates against the static bounds only and
    returns an EMPTY DataFrame when start is past the last row — the
    lazy-relation analog of "no such page".

    One TakeOrderedAndProject of `end` rows (end <= 1000, driver-tiny),
    then the slice by rank — no global sort, no unbounded window."""
    if not (0 <= start <= MAX_PAGE_START):
        raise ValueError(f"'start' must be in [0, {MAX_PAGE_START}]")
    if not (0 < end <= MAX_PAGE_END):
        raise ValueError(f"'end' must be in (0, {MAX_PAGE_END}]")
    if start > end:
        raise ValueError("'start' cannot be greater than 'end'")
    return ranked(result, k=end).filter(F.col("rank") >= start)


def search(
    scorer,
    query: str,
    k: int = 10,
    mode: str = "all",
    not_query: str | None = None,
    blocklist: set[str] | None = None,
) -> DataFrame:
    """End-to-end single query with optional NOT-IN, like the reference CLI
    `--query Q --in T [--query Q2 --not-in T]` (/root/reference/search.py:67-119).

    `scorer(query, mode)` returns all matching (doc_id, score); NOT-IN
    executes first (reference order, search.py:79-91).
    """
    check_blocklist(query, blocklist)
    if not_query is not None:
        check_blocklist(not_query, blocklist)
    hits = scorer(query, mode)
    if not_query is not None:
        hits = subtract(hits, scorer(not_query, mode))
    return ranked(hits, k)


def export_csv(result: DataFrame, path: str, query_label: str) -> None:
    """Write `query,rank,doc_id,score` CSV (one file; results are <= k rows)."""
    (
        result.select(
            F.lit(query_label).alias("query"),
            "rank",
            "doc_id",
            F.col("score").cast("string").alias("score"),  # full float64 precision
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
