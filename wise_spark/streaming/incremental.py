"""Structured Streaming ingestion -> incremental index versions.

The reference is batch-only and leaves incremental ingest as a TODO
(/root/reference/extract-features.py:257; SURVEY.md section 2.9). Here the
arrival of new corpus files drives index growth:

    readStream (file source) -> foreachBatch:
        batch 0: build_index(batch)          -> <root>/v000000
        batch n: extend_index(current, batch) -> <root>/v00000n  (Stage A on
                 the batch + Stages B-D over current's tokens: the same
                 segments as a full rebuild over every batch so far)
    CURRENT file (atomic rename) points at the live version; readers pick a
    consistent snapshot at any time (non-destructive versions = time travel).

Checkpointing is the stream's own (file-source offsets), so a killed stream
resumes exactly where it stopped without re-indexing processed files —
this composes with the build's per-wave lineage.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def current_index_dir(index_root: str) -> str | None:
    cur = os.path.join(index_root, "CURRENT")
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        return os.path.join(index_root, f.read().strip())


def _stream_run_id(checkpoint_dir: str) -> str:
    """One id per stream-checkpoint lifetime, stored INSIDE the checkpoint
    dir so it lives and dies with the offsets: batch ids restart at 0 when
    the checkpoint is lost or a new stream is pointed at an old index_root,
    and without this id the replay guard would mistake a stale v000000 from
    the previous incarnation for 'this batch already built' — silently
    dropping the new data and re-publishing the old version as CURRENT."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, "wise_run_id")
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    run_id = uuid.uuid4().hex
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(run_id)
    os.replace(tmp, path)
    return run_id


def _version_run_id(version_dir: str) -> str | None:
    path = os.path.join(version_dir, "stream_run_id")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read().strip()


def _set_current(index_root: str, version: str) -> None:
    cur = os.path.join(index_root, "CURRENT")
    tmp = cur + ".tmp"
    with open(tmp, "w") as f:
        f.write(version)
    os.replace(tmp, cur)


def stream_build_index(
    spark: SparkSession,
    input_path: str,
    index_root: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
    n_shards: int = 8,
    n_buckets: int = 8,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    with_positions: bool = False,
):
    """Run the incremental build stream. With available_now=True this
    processes the current backlog and stops (batch-incremental snapshots);
    without it the stream keeps absorbing new files."""
    import logging
    import shutil

    from ..index import build_index, extend_index

    os.makedirs(index_root, exist_ok=True)
    checkpoint_dir = os.path.join(index_root, "_stream_checkpoint")
    run_id = _stream_run_id(checkpoint_dir)

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # version derived from batch_id, NOT from CURRENT: foreachBatch may
        # replay a batch after a crash between _set_current and the streaming
        # checkpoint commit — replay must be a no-op, never a double-extend.
        # The replay guard also checks the RUN id: a version dir built by a
        # previous stream incarnation (checkpoint lost -> batch ids restart
        # at 0) is stale data, not a replay — it is wiped and rebuilt.
        version = f"v{batch_id:06d}"
        out = os.path.join(index_root, version)
        swap_foreign = False
        target = out
        if os.path.exists(os.path.join(out, "meta.json")):
            if _version_run_id(out) == run_id:
                _set_current(index_root, version)  # replayed batch: built
                return
            logging.getLogger(__name__).warning(
                "stream_build_index: %s was built by a different stream "
                "incarnation (checkpoint reset?) — rebuilding it from this "
                "stream's batch %d instead of replay-publishing stale data",
                out, batch_id,
            )
            # CURRENT may still point at this stale-but-consistent dir:
            # wiping it before the (minutes-long) rebuild would hand every
            # concurrent reader a deleted directory. Build into a side dir
            # and swap in two renames — the dangling window shrinks from
            # the whole rebuild to microseconds.
            swap_foreign = True
            target = out + ".rebuild"
            shutil.rmtree(target, ignore_errors=True)
        cur = current_index_dir(index_root)
        # never extend from a version another incarnation built: its content
        # does not correspond to this stream's file offsets, so extending
        # would double-index every file the new stream re-reads
        if cur is not None and _version_run_id(cur) != run_id:
            cur = None
        if cur is None:
            build_index(
                batch, target, id_col=id_col, text_col=text_col, url_col=url_col,
                n_shards=n_shards, n_buckets=n_buckets, n_waves=1,
                with_positions=with_positions,
            )
        else:
            extend_index(
                spark, cur, batch, target,
                id_col=id_col, text_col=text_col, url_col=url_col,
            )
        with open(os.path.join(target, "stream_run_id"), "w") as f:
            f.write(run_id)
        if swap_foreign:
            stale = out + ".stale"
            shutil.rmtree(stale, ignore_errors=True)
            os.rename(out, stale)
            os.rename(target, out)
            shutil.rmtree(stale, ignore_errors=True)
        _set_current(index_root, version)

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    writer = (
        reader.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
