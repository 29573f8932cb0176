"""Maintenance for partition-appended parquet stores (index backends).

All three retrieval index families append one file per touched partition
per batch (`MinHashIndex.append` on ``band=``, `IvfIndex.append` on
``ivf_list=``, `InvertedIndex.append` on ``term_bucket=``), so a streaming
ingest grows probe-side file counts O(appends) — every probe then pays
O(files) listing/footer reads. :func:`compact_partitioned_store` folds a
store back to ~one file per partition with a rename swap: rewrite into a
sibling directory, swap via two atomic renames, remove the old layout.
Single-writer AND single-reader-at-a-time semantics: a probe plan built before the swap
pins concrete file paths that the swap deletes — materialize (collect /
localCheckpoint) in-flight probe results before compacting, the order the
index methods themselves already follow (`dedup_batch` checkpoints its
loser set before the append that may auto-compact).

The reference has no index stores (its retention/compaction surface is the
Kinesis stream's, see sinks/stream_sink.py); this module is engine-side
maintenance for the LLM-pipeline index family.
"""

from __future__ import annotations

import os
import shutil


def _count_parquet_files(path: str) -> int:
    return sum(
        1
        for _r, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def heal_partitioned_store(path: str) -> bool:
    """Recover a store whose :func:`compact_partitioned_store` crashed
    between its two renames — the only window where ``path`` itself is
    missing. In that window the ``.compact`` sibling is COMPLETE (the
    rewrite and sidecar copy finish before the first rename), so recovery
    promotes it; a bare ``.old`` (no ``.compact``) rolls back instead.
    Idempotent and cheap (two existence checks when healthy); the index
    stores call it from their append/probe entrypoints so a crashed
    compact can never make an append silently re-create an EMPTY store
    over the orphaned data. Returns True if a repair happened."""
    if os.path.exists(path):
        return False
    tmp = path + ".compact"
    old = path + ".old"
    if os.path.isdir(tmp):
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        return True
    if os.path.isdir(old):
        os.rename(old, path)
        return True
    return False


def compact_partitioned_store(
    spark, path: str, partition_col: str, min_files: int = 64
) -> int:
    """Rewrite the store at ``path`` into ~one parquet file per
    ``partition_col`` value. No-op below ``min_files`` (compaction costs a
    full store rewrite — don't pay it for a handful of files); returns the
    number of files removed.

    Driver-side sidecar metadata (leading-underscore regular files in the
    store root, e.g. ``_minhash_meta.json`` / ``_ivf_centroids.json`` —
    invisible to parquet readers) is carried into the new layout before the
    swap. A crash between the two renames leaves ``path`` missing with the
    complete ``.compact`` sibling on disk — :func:`heal_partitioned_store`
    (run automatically at the next compact/append/probe) promotes it, so
    no committed data or metadata is ever lost.

    Single-writer, like append (the caller owns write serialization);
    a prior crashed run is healed first (:func:`heal_partitioned_store`),
    then stale ``.compact`` / ``.old`` siblings are cleared so the swap's
    renames never hit an existing directory.
    """
    heal_partitioned_store(path)
    n_files = _count_parquet_files(path)
    if n_files < min_files:
        return 0
    tmp = path + ".compact"
    old = path + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    (
        spark.read.parquet(path)
        .repartition(partition_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(tmp)
    )
    for f in os.listdir(path):
        full = os.path.join(path, f)
        if f.startswith("_") and f != "_SUCCESS" and os.path.isfile(full):
            shutil.copy2(full, os.path.join(tmp, f))
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return n_files - _count_parquet_files(path)
