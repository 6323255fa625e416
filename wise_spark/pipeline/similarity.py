"""Similarity search over embedding columns (array<float>).

Four operators, one shape — candidate pairs, then one exact JVM cosine
rerank (`_rerank`), then (for the top-k operators) one per-query window:

  * cosine_topk          — exact brute force: broadcast the (small) query
                           set and cross join. The "IndexFlatIP" baseline.
  * lsh_cosine_topk      — random-hyperplane sign buckets: candidates share
                           a sign-pattern bucket in at least one hash table.
                           Hyperplanes are seeded, so results reproduce;
                           recall < 1 by design, the same trade the
                           reference makes with IVF nprobe
                           (/root/reference/docs/Search-Index-Evaluation.md).
  * ivf_cosine_topk      — the coarse quantizer of faiss IndexIVFFlat:
                           candidates share a centroid list.
  * cosine_neardup_pairs — every pair with cosine >= threshold: LSH bucket
                           self-join + rerank, or a blocked all-pairs GEMM.

LSH and IVF bucket keys come from one Arrow-batched matmul kernel
(`_keyed`); the candidate join is a broadcast equi-join on the key. The
rerank is built-in higher-order functions (no Python UDF) over
double-cast vectors, rounded to 6 dp, with a NaN cosine reported as NULL.
Per-query top-k is `row_number() <= k`, which Catalyst plans as a partial
WindowGroupLimit before the query_id exchange (see `_topk`).

A NULL embedding has no direction: `cosine_topk` ranks it last with a NULL
cosine, and the Python-kernel paths (LSH, IVF, the exact GEMM) drop it
before their kernels (`_present`), so it is never a candidate, a probed
query or a near-duplicate — its exact cosine is NULL and fails every
threshold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..session import local_rows_df


def _pairs_schema(id_type: str) -> str:
    return f"vec_id_a {id_type}, vec_id_b {id_type}, cosine double"


def _no_neighbors(items: DataFrame, queries: DataFrame, id_col: str) -> DataFrame:
    """Empty top-k result of an empty corpus. query_id types come from the
    QUERIES schema — the two sides may use different id types, and the
    empty-edge schema must match the non-empty result or per-shard unions
    break only on empty shards."""
    qid_type = queries.schema[id_col].dataType.simpleString()
    id_type = items.schema[id_col].dataType.simpleString()
    return local_rows_df(items.sparkSession, [], f"query_id {qid_type}, "
                         f"vec_id {id_type}, cosine double, rank int")


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query exact top-k of (query_id, vec_id, cosine): rank = 1-based
    row_number by (cosine desc NULLS LAST, vec_id asc), kept while <= k.

    For k <= spark.sql.optimizer.windowGroupLimitThreshold (1000 by
    default) Catalyst inserts a partial WindowGroupLimit before the
    query_id exchange — the lossless map-side local top-k — so at most
    n_partitions * k rows per query cross the shuffle. Above the threshold
    the result is still exact, but every scored pair is shuffled.
    """
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _present(df: DataFrame, vec_col: str) -> DataFrame:
    """The rows with a non-NULL embedding (see the module docstring)."""
    return df.where(F.col(vec_col).isNotNull())


def _dbl(vec) -> Column:
    """array<float> -> array<double>, so every dot product accumulates in
    float64."""
    return F.transform(vec, lambda v: v.cast("double"))


def _cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    # zero-norm guard (failed/padded extractions are normal at crawl scale):
    # under Spark 4's default ANSI mode a bare divide would kill the JOB on
    # one all-zeros vector; same floor as the exact-GEMM path's np.maximum
    return dot / F.greatest(na * nb, F.lit(1e-300))


def _rerank(a: Column, b: Column) -> Column:
    """The one exact cosine of two array<double> columns, rounded to 6 dp.
    A NaN component makes the cosine NULL: NULL ranks after every number
    in `_topk` (Spark orders NaN above them) and fails every threshold
    (`NaN >= t` is true in Spark, false in the exact GEMM's numpy)."""
    return F.round(F.nanvl(_cosine(a, b), F.lit(None).cast("double")),
                   6).alias("cosine")


def cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For each query vector: exact top-k neighbors by cosine (desc, id asc).

    Output: (query_id, vec_id, cosine, rank). Excludes self-matches.
    """
    # cast once per row at the source, not once per (query, item) pair
    q = queries.select(F.col(id_col).alias("query_id"),
                       _dbl(F.col(vec_col)).alias("qvec"))
    it = items.select(F.col(id_col).alias("vec_id"),
                      _dbl(F.col(vec_col)).alias("ivec"))
    scored = (
        it.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _rerank(F.col("qvec"), F.col("ivec")))
    )
    return _topk(scored, k)


def _keyed(df: DataFrame, id_col: str, vec_col: str, alias: str,
           mat: np.ndarray, keys, key_type: str) -> DataFrame:
    """(alias, alias_vec, bucket) rows: one per (row of df, key). ONE
    Arrow-batched mapInPandas matmul `vecs @ mat` per batch; `mat` ships
    once in the task closure (a few hundred KB even at 768-d) — NOT as
    per-element column literals, which at real dimensions meant
    ~n_keys*dim literal expressions in the plan (slow analysis/codegen,
    driver-memory pressure). `keys(projection)` returns one key array per
    fan-out, and each array yields one copy of the batch."""
    id_type = df.schema[id_col].dataType.simpleString()
    vec_type = df.schema[vec_col].dataType.simpleString()
    vec_alias = f"{alias}_vec"
    src = df.select(F.col(id_col).alias(alias), F.col(vec_col).alias(vec_alias))

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                vecs = np.array([np.asarray(v, dtype=np.float64)
                                 for v in pdf[vec_alias]])
                for key in keys(vecs @ mat):
                    yield pdf.assign(bucket=key)

    return src.mapInPandas(
        gen, schema=f"{alias} {id_type}, {vec_alias} {vec_type}, bucket {key_type}")


def _bucket_pairs(items: DataFrame, queries: DataFrame, id_col: str,
                  vec_col: str, mat: np.ndarray, item_keys, query_keys,
                  key_type: str) -> DataFrame:
    """Reranked (query_id, vec_id, cosine) candidates: items joined to the
    broadcast (small) query side on a shared bucket key, self-matches
    dropped. A pair sharing several buckets repeats."""
    ib = _keyed(items, id_col, vec_col, "vec_id", mat, item_keys, key_type)
    qb = _keyed(queries, id_col, vec_col, "query_id", mat, query_keys, key_type)
    return (
        ib.join(F.broadcast(qb), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id",
                _rerank(_dbl("query_id_vec"), _dbl("vec_id_vec")))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _plane_matrix(items: DataFrame, vec_col: str, n_planes: int,
                  n_tables: int, seed: int) -> np.ndarray | None:
    """(dim, n_tables*n_planes) hyperplane matrix: one matmul against it
    yields every table's sign bits. dim is read from the first row
    (driver-side, once). Returns None on an EMPTY relation (no row to read
    the dimension from) — callers short-circuit to an empty result."""
    row = items.select(F.size(vec_col).alias("d")).first()
    if row is None:
        return None
    dim = int(row["d"])
    return np.concatenate(
        [np.asarray(_hyperplanes(dim, n_planes, seed + t)) for t in range(n_tables)]
    ).T


def _sign_keys(n_planes: int, n_tables: int):
    """`_keyed` keys of the LSH tables: table t's sign pattern as the
    string `t<t>:0101…` (bit = projection >= 0; a NaN projection is 0)."""
    def keys(proj):
        chars = np.where(proj >= 0, "1", "0")
        for t in range(n_tables):
            yield [f"t{t}:" + "".join(row)
                   for row in chars[:, t * n_planes:(t + 1) * n_planes]]
    return keys


def lsh_cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: random-hyperplane sign buckets (`_sign_keys`),
    exact rerank within candidates. The candidate join is a broadcast
    equi-join on the bucket key."""
    items, queries = _present(items, vec_col), _present(queries, vec_col)
    mat = _plane_matrix(items, vec_col, n_planes, n_tables, seed)
    if mat is None:   # empty corpus: no neighbors for any query
        return _no_neighbors(items, queries, id_col)
    keys = _sign_keys(n_planes, n_tables)
    scored = _bucket_pairs(items, queries, id_col, vec_col, mat, keys, keys,
                           "string")
    # a pair can collide in several tables: one row per pair. The dedup
    # runs on reranked rows, so no embedding crosses its exchange.
    return _topk(scored.dropDuplicates(["query_id", "vec_id"]), k)


def _exact_neardup_blocked(
    items: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    block_size: int = 1024,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via blocked GEMM (see
    cosine_neardup_pairs, mode="exact"). One applyInPandas task per
    unordered block pair; the kernel emits RAW float64 cosines filtered
    with a 1e-9 slack, and the final F.round(.., 6) + threshold filter
    runs JVM-side — the identical rounding contract as the LSH path and
    the DuckDB oracle, so a numpy-vs-Catalyst rounding divergence can
    never change the emitted pair set."""
    n = items.count()
    id_type = items.schema[id_col].dataType.simpleString()
    if n == 0:
        return local_rows_df(items.sparkSession, [], _pairs_schema(id_type))
    n_blocks = max(1, -(-n // block_size))

    src = items.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    # every vector joins each of its n_blocks block-pair groups exactly once
    exploded = (
        src.withColumn("other", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .select(
            "vid", "vec", "blk",
            F.least("blk", "other").alias("pi"),
            F.greatest("blk", "other").alias("pj"),
        )
        # (pi, pj) = (min, max)(blk, other) is distinct per `other` for a
        # fixed blk, so each vector reaches each of its block-pair groups
        # exactly once — no dedup (and no extra exchange) needed
    )

    def pair_kernel(key, pdf):
        pi, pj = int(key[0]), int(key[1])
        empty = pd.DataFrame({"vec_id_a": pdf["vid"][:0],
                              "vec_id_b": pdf["vid"][:0],
                              "cosine": pd.Series([], dtype="float64")})

        def side(b):
            part = pdf[pdf["blk"] == b]
            ids = part["vid"].to_numpy()
            if not len(ids):
                # np.array([]) is 1-dim — norm(axis=1) would AxisError before
                # the caller's emptiness guards ever run
                return ids, np.zeros((0, 0)), np.zeros(0)
            V = np.array([np.asarray(v, dtype=np.float64) for v in part["vec"]])
            nrm = np.linalg.norm(V, axis=1)
            return ids, V, nrm

        ids_a, Va, na = side(pi)
        if not len(ids_a):
            return empty
        if pi == pj:
            S = (Va @ Va.T) / np.maximum(np.outer(na, na), 1e-300)
            ia, ib = np.triu_indices(len(ids_a), k=1)
            cos = S[ia, ib]
            left, right = ids_a[ia], ids_a[ib]
        else:
            ids_b, Vb, nb = side(pj)
            if not len(ids_b):
                return empty
            S = (Va @ Vb.T) / np.maximum(np.outer(na, nb), 1e-300)
            ia = np.repeat(np.arange(len(ids_a)), len(ids_b))
            ib = np.tile(np.arange(len(ids_b)), len(ids_a))
            cos = S.ravel()
            left, right = ids_a[ia], ids_b[ib]
        # left != right: duplicate id values land in one hash block and
        # triu(k=1) would pair two rows sharing an id — the join-based
        # implementation's strict vec_id_a < vec_id_b excluded those, so
        # keep that contract here
        keep = (cos >= threshold - 1e-9) & (left != right)
        cos, left, right = cos[keep], left[keep], right[keep]
        swap = left > right      # contract: vec_id_a < vec_id_b by id value
        return pd.DataFrame({
            "vec_id_a": np.where(swap, right, left),
            "vec_id_b": np.where(swap, left, right),
            "cosine": cos,
        })

    raw = exploded.groupBy("pi", "pj").applyInPandas(
        pair_kernel,
        schema=_pairs_schema(id_type),
    )
    return (
        raw.select(
            "vec_id_a",
            "vec_id_b",
            F.round(F.col("cosine"), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def cosine_neardup_pairs(
    items: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "lsh",
    n_planes: int = 8,
    n_tables: int = 12,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: every unordered pair with
    cosine(a, b) >= threshold, as (vec_id_a < vec_id_b, cosine) rows.

    The dedup counterpart of the reference's vector search (reference
    src/search_index.py builds the same embedding space; near-dup filtering
    over it is the training-data-pipeline use). Two modes sharing one output
    contract (cosine is exact in both — LSH only prunes CANDIDATES, so
    precision is always 1.0; a pair with a NaN cosine is never emitted):

      mode="exact" — blocked all-pairs GEMM. Vectors hash into B blocks
        (~block_size rows each); each vector is exploded to its B
        block-pair keys, and one applyInPandas task per (block_i <=
        block_j) key computes the cross-block cosine matrix as a single
        float64 numpy matmul. O(n^2) arithmetic like any exact all-pairs
        baseline, but each task touches <= 2*block_size vectors (bounded
        memory at any n) and the arithmetic runs at BLAS speed instead of
        one boxed Catalyst higher-order fold per pair (measured at 2,000
        vectors x 64-d: 56.6s nested-loop join -> ~2s). Shuffle is n*B
        vector copies — the inherent exact-all-pairs cost; LSH below is
        the scale path that avoids it.
      mode="lsh" — the scale path: random-hyperplane sign buckets
        (n_tables tables of n_planes bits; see _sign_keys), candidates
        are pairs sharing ANY table's bucket — a bucketed equi-join, never
        all-pairs — then exact cosine verify (`_rerank`). Expected recall
        for a pair at angle theta: 1 - (1 - p^n_planes)^n_tables with
        p = 1 - theta/pi; the defaults give >0.98 at cosine >= 0.85 (true
        near-dup range). At 100 TB the bucket join shuffles only (bucket,
        id, vec) rows — skew is bounded because a bucket holds
        ~n/2^n_planes vectors per table in the random-hyperplane model.

    Output: (vec_id_a, vec_id_b, cosine) with cosine rounded to 6 dp;
    the threshold is applied to the ROUNDED value so the DuckDB oracle
    (which rounds the same way) sees the identical pair set.
    """
    if mode not in ("exact", "lsh"):
        raise ValueError(f"mode must be 'exact' or 'lsh', got {mode!r}")
    items = _present(items, vec_col)
    if mode == "exact":
        return _exact_neardup_blocked(items, threshold, id_col, vec_col)
    mat = _plane_matrix(items, vec_col, n_planes, n_tables, seed)
    if mat is None:   # empty corpus: no pairs
        id_type = items.schema[id_col].dataType.simpleString()
        return local_rows_df(items.sparkSession, [], _pairs_schema(id_type))
    # materialize the signatures ONCE and alias for both join sides: two
    # independent _keyed calls re-ran the full upstream plan (embedding
    # production + the matmul) per side — the same per-consumer recompute
    # dedup.py's LSH paths checkpoint away
    sa = _keyed(items, id_col, vec_col, "vec_id_a", mat,
                _sign_keys(n_planes, n_tables), "string").localCheckpoint(eager=True)
    sb = sa.select(F.col("vec_id_a").alias("vec_id_b"),
                   F.col("vec_id_a_vec").alias("vec_id_b_vec"), "bucket")
    return (
        sa.join(sb, "bucket")
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        # a pair can collide in several tables: one verify per pair
        .dropDuplicates(["vec_id_a", "vec_id_b"])
        .select("vec_id_a", "vec_id_b",
                _rerank(_dbl("vec_id_a_vec"), _dbl("vec_id_b_vec")))
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer structure of the reference's
# faiss IndexIVFFlat (reference docs/Search-Index-Evaluation.md): vectors are
# assigned to their nearest centroid's list, queries probe only the n_probe
# nearest lists, exact rerank inside the probed lists.
# ---------------------------------------------------------------------------


def ivf_centroids_random(dim: int, n_lists: int, seed: int = 7) -> np.ndarray:
    """Deterministic unit-norm random centroids (a random coarse quantizer).
    Data-independent, so an external engine (the DuckDB oracle) can inline
    the identical centroids and reproduce list assignment exactly."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_lists, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def train_ivf_centroids(
    items: DataFrame,
    n_lists: int,
    vec_col: str = "embedding",
    sample_n: int = 65536,
    iters: int = 10,
    seed: int = 7,
) -> np.ndarray:
    """Spherical k-means on a bounded driver-side sample — the same
    train-on-a-sample contract as faiss (which trains IVF centroids on a
    subset, not the full corpus). The sample is capped at sample_n rows, so
    driver memory is bounded no matter the corpus size; the full corpus is
    only ever touched by the distributed assignment matmul."""
    rows = _present(items, vec_col).select(vec_col).limit(sample_n).collect()
    v = np.array([np.asarray(r[0], dtype=np.float64) for r in rows])
    v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = v[rng.choice(len(v), size=min(n_lists, len(v)), replace=False)]
    if len(cent) < n_lists:   # tiny sample: pad with random directions
        cent = np.vstack([cent, ivf_centroids_random(v.shape[1],
                                                     n_lists - len(cent), seed)])
    for _ in range(iters):
        assign = np.argmax(v @ cent.T, axis=1)
        for li in range(n_lists):
            members = v[assign == li]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 1e-12:
                    cent[li] = m / n
            else:               # empty list: reseed from the sample
                cent[li] = v[rng.integers(0, len(v))]
    return cent


def ivf_cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer: exact rerank inside
    the n_probe lists nearest to each query. recall < 1 by design — the
    identical trade the reference makes with IVF nprobe.

    centroids: a (n_lists, dim) unit-row matrix; None trains spherical
    k-means on a bounded sample (train_ivf_centroids); pass
    ivf_centroids_random(...) for a data-independent quantizer an external
    oracle can reproduce. Centroids are unit-norm, so the cosine-nearest
    list is the argmax of PLAIN dot products (no per-row norm) — ties break
    to the lowest list_id in both the numpy and SQL formulations.

    Scale shape: list assignment and query probing are `_keyed` matmuls
    (the centroid matrix ships once in the closure); the candidate join is
    a bucketed equi-join on list_id with the (tiny) exploded query-probe
    side broadcast; rerank is exact JVM cosine + the shared top-k window.
    An item lives in one list and a query probes distinct lists, so no
    pair repeats. At 10^12 vectors the list assignment is a natural
    partition/cluster key — nothing ever materializes all-pairs.
    """
    items, queries = _present(items, vec_col), _present(queries, vec_col)
    if centroids is None:
        if items.select(vec_col).first() is None:   # empty corpus: no lists
            return _no_neighbors(items, queries, id_col)
        centroids = train_ivf_centroids(items, n_lists, vec_col, seed=seed)
    C = np.asarray(centroids, dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def nearest_list(sims):
        return [np.argmax(sims, axis=1).astype(np.int32)]

    def probed_lists(sims):
        # stable sort on -sim keeps list_id ascending among exact ties
        return np.argsort(-sims, axis=1, kind="stable")[:, :n_probe].T.astype(np.int32)

    return _topk(_bucket_pairs(items, queries, id_col, vec_col, C.T,
                               nearest_list, probed_lists, "int"), k)
