"""Index merging / incremental extension (batch-incremental snapshots).

The reference acknowledges "add new files to an existing project" as a TODO
(/root/reference/extract-features.py:257); here it is first-class:
`merge_indexes` combines two indexes with disjoint docID sets into a new
index directory — the shape of processing a new Iceberg snapshot: build a
small delta index over the new documents, then merge.

Key subtlety: BM25's tf-component depends on corpus-level avgdl, and our
block-max metadata stores EXACT tfc maxima — so merged segments are
re-encoded under the merged corpus's avgdl. Postings carry (tf, doclen), so
this needs NO re-tokenization: decode -> concat (disjoint, sorted) ->
re-encode. The merged index is therefore rank-identical to an index built
from scratch over the union corpus (verified in tests).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from .build import (
    IndexMeta,
    SEGMENT_SCHEMA,
    _append_lineage,
    _concat_batches,
    _corpus_stats,
    _group_bounds,
    _parquet_footer_stats,
    _permute,
    _write_terms,
)
from .codec import decode_positions, decode_postings, encode_postings_many


def _remerge_fn(avgdl: float, with_positions: bool = False):
    """Re-encode per (shard, term) groups whose rows are encoded segment rows
    from either input index (1 or 2 rows per group)."""

    def run(batches):
        pdf = _concat_batches(batches)
        if pdf is None:
            return
        pdf = pdf.sort_values(["shard", "term"], kind="mergesort", ignore_index=True)
        shard = pdf["shard"].to_numpy(np.int32)
        terms = pdf["term"].to_numpy()
        # pull binary columns to object arrays ONCE: pdf.iloc[j] builds a
        # fresh Series per row — O(total rows) interpreted materialization,
        # the exact per-row-pandas anti-pattern the build-side merge kernel
        # vectorized away
        docids_a = pdf["docids"].to_numpy(object)
        tfs_a = pdf["tfs"].to_numpy(object)
        dls_a = pdf["doclens"].to_numpy(object)
        pos_a = pdf["positions"].to_numpy(object) if with_positions else None
        g_starts, g_ends = _group_bounds(shard, terms)
        ids_parts, tfs_parts, dls_parts, pos_parts, lens = [], [], [], [], []
        for s, e in zip(g_starts, g_ends):
            ids_l, tfs_l, dls_l, pos_l = [], [], [], []
            for j in range(s, e):
                ids_j, tfs_j, dls_j = decode_postings(
                    {"docids": docids_a[j], "tfs": tfs_a[j], "doclens": dls_a[j]}
                )
                ids_l.append(ids_j)
                tfs_l.append(tfs_j)
                dls_l.append(dls_j)
                if with_positions:
                    pos_l.append(decode_positions(bytes(pos_a[j]), tfs_j))
            ids = np.concatenate(ids_l)
            tfs = np.concatenate(tfs_l)
            dls = np.concatenate(dls_l)
            pos = np.concatenate(pos_l) if with_positions else None
            if e - s > 1:
                order = np.argsort(ids, kind="mergesort")
                ids, tfs, dls, pos = _permute(ids, tfs, dls, pos, order)
            ids_parts.append(ids)
            tfs_parts.append(tfs)
            dls_parts.append(dls)
            if with_positions:
                pos_parts.append(pos)
            lens.append(ids.size)
        lens = np.asarray(lens, dtype=np.int64)
        ends = np.cumsum(lens)
        starts = ends - lens
        encs = encode_postings_many(
            np.concatenate(ids_parts), np.concatenate(tfs_parts),
            np.concatenate(dls_parts), starts, ends, avgdl,
            positions=np.concatenate(pos_parts) if with_positions else None,
        )
        out = [
            (
                terms[s], int(shard[s]), enc["n"], enc["docids"], enc["tfs"],
                enc["doclens"], enc["positions"], enc["blk_last"], enc["blk_max"],
                enc["max_tfc"], enc["sum_tf"],
            )
            for s, enc in zip(g_starts, encs)
        ]
        yield pd.DataFrame(
            out,
            columns=[
                "term", "shard", "n", "docids", "tfs", "doclens", "positions",
                "blk_last", "blk_max", "max_tfc", "sum_tf",
            ],
        )

    return run


def merge_indexes(
    spark: SparkSession, dir_a: str, dir_b: str, out_dir: str
) -> IndexMeta:
    """Merge two indexes with the same n_shards and disjoint docIDs into a
    new index at out_dir (non-destructive — snapshot semantics)."""
    ma, mb = IndexMeta.load(dir_a), IndexMeta.load(dir_b)
    if ma.n_shards != mb.n_shards:
        raise ValueError(f"shard count mismatch: {ma.n_shards} != {mb.n_shards}")
    if os.path.abspath(out_dir) in (os.path.abspath(dir_a), os.path.abspath(dir_b)):
        raise ValueError(
            "merge_indexes is snapshot-semantics only: out_dir must differ "
            "from both inputs (in-place overwrite would delete an input "
            "mid-read)")
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.time()

    dm_a = spark.read.parquet(os.path.join(dir_a, "doc_map"))
    dm_b = spark.read.parquet(os.path.join(dir_b, "doc_map"))
    if not dm_a.select("doc_id").join(dm_b.select("doc_id"), "doc_id").isEmpty():
        raise ValueError("docID sets overlap; merge requires disjoint ids")
    dm = dm_a.unionByName(dm_b, allowMissingColumns=True)
    dm.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_map"))
    # same stats helper as build_index, so a merged index's avgdl is
    # bit-identical to a from-scratch build over the union corpus
    n_docs, total_tokens = _corpus_stats(spark, os.path.join(out_dir, "doc_map"))
    avgdl = (total_tokens / n_docs) if n_docs else 0.0

    with_pos = bool(ma.extras.get("with_positions")) and bool(
        mb.extras.get("with_positions")
    )
    segs = (
        spark.read.parquet(os.path.join(dir_a, "segments")).drop("wave")
        .unionByName(
            spark.read.parquet(os.path.join(dir_b, "segments")).drop("wave"),
            allowMissingColumns=True,
        )
    )
    par = spark.sparkContext.defaultParallelism
    merged = segs.repartition(max(par, 4), "shard", "term").mapInPandas(
        _remerge_fn(avgdl, with_positions=with_pos), schema=SEGMENT_SCHEMA
    )
    # same flat per-wave layout as build_index (wave=0 = "fully merged").
    # Clear the WHOLE segments tree first: the overwrite below is scoped to
    # wave=0, so stale wave>0 dirs from a previous multi-wave index in a
    # reused out_dir would survive and silently leak ghost postings into
    # the terms aggregation and every query.
    segments_path = os.path.join(out_dir, "segments")
    terms_path = os.path.join(out_dir, "terms")
    shutil.rmtree(segments_path, ignore_errors=True)
    merged.write.mode("overwrite").parquet(os.path.join(segments_path, "wave=0"))
    _write_terms(spark, segments_path, terms_path, max(2, ma.n_buckets // 4))
    n_terms, _ = _parquet_footer_stats(terms_path)
    _append_lineage(
        spark, out_dir,
        [("merge", f"{os.path.basename(dir_a)}+{os.path.basename(dir_b)}", "done",
          n_docs, 0, int((time.time() - t0) * 1000))],
    )
    meta = IndexMeta(
        n_docs=n_docs, avgdl=avgdl,
        total_tokens=total_tokens, n_terms=n_terms,
        n_shards=ma.n_shards, n_buckets=ma.n_buckets, n_salts=ma.n_salts,
        extras={"with_positions": with_pos},
    )
    meta.save(out_dir)
    return meta


def extend_index(
    spark: SparkSession,
    index_dir: str,
    new_docs,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
) -> IndexMeta:
    """Incremental build: index only the NEW documents (the delta snapshot),
    then merge with the existing index into out_dir."""
    import tempfile

    from .build import build_index

    meta = IndexMeta.load(index_dir)
    delta_dir = tempfile.mkdtemp(prefix="wise_delta_")
    try:
        build_index(
            new_docs, delta_dir, id_col=id_col, text_col=text_col,
            url_col=url_col, n_shards=meta.n_shards, n_buckets=meta.n_buckets,
            n_salts=meta.n_salts, n_waves=1,
            # the delta must carry whatever the base index carries — a
            # positionless delta would silently strip positions from the
            # merged index (merge computes with_pos = A AND B)
            with_positions=bool(meta.extras.get("with_positions")),
        )
        return merge_indexes(spark, index_dir, delta_dir, out_dir)
    finally:
        shutil.rmtree(delta_dir, ignore_errors=True)
