"""Batch commits for the replay-safe streaming writers: one high-water
mark per output, replaced atomically after the data it covers lands.

A ``foreachBatch`` sink can be handed the same micro-batch twice (the
sink ran, the checkpoint commit did not). A writer that must not fold
a batch twice keeps ``<mark_dir>/_last_batch``, the id of the last
batch it fully wrote, and follows three steps:

1. :func:`batch_done` — a batch at or below the mark already landed:
   skip it (logged as one JSON line on this module's logger);
2. commit the data (a parquet job commit or a staged swap);
3. :func:`write_mark` — write the id to the temp file
   ``_last_batch.tmp``, then rename it over the mark in one step
   (Hadoop ``FileContext.rename`` with ``Options.Rename.OVERWRITE``;
   ``FileSystem.rename`` refuses an existing target). Readers see the
   old mark or the new one, never a torn one; a crash leaves only the
   temp file, which parquet scans skip (Spark ignores ``_``/``.``
   names) and the next write overwrites.

The one remaining window is a crash between steps 2 and 3: the data
landed, the mark did not move, and the replay writes the batch again.
Append sinks (``streaming.ingest.etl_batch_sink`` per table,
``streaming.embeddings.ivf_append_batch``) then append that batch a
second time — at-least-once for one batch.
``streaming.sampling.reservoir_fold_batch`` re-folds it, a no-op as
the fold keeps one row per id. ``streaming.documents
.dedup_documents_batch`` reads its prior state pruned to ``batch_id <=
mark``, so the replay recomputes the same output and overwrites it.

Batch ids, and so marks, mean something only within one checkpoint
lineage: the starters refuse a second lineage over one output
(``compaction.enforce_output_lineage``) or namespace their marks by a
digest of the checkpoint path.

Older state stays readable. A missing or unparseable mark reads as no
mark; partitioned state then falls back to its highest partition with
a ``_SUCCESS`` job-commit marker (job commits are atomic). Per-batch
marker directories ``batch_id=N``, which preceded the mark file, count
as committed and are deleted once the mark covers them.

Atomicity rests on rename, which holds on the local file system and
HDFS; object stores need a different commit protocol.
"""

from __future__ import annotations

import json
import logging
import re

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sales_data_warehouse_spark.sources.compaction import (
    _hadoop_fs,
    fs_delete,
    fs_exists,
    fs_ls,
    fs_mkdirs,
    fs_read_text,
    fs_rename,
    fs_write_text,
)

log = logging.getLogger(__name__)

#: name of the mark file inside its directory
MARK = "_last_batch"


def _batch_dirs(spark: SparkSession, path: str) -> list[int]:
    """Ids of the ``batch_id=N`` children of ``path``, ascending."""
    found = (re.fullmatch(r"batch_id=(-?\d+)", n) for n in fs_ls(spark, path))
    return sorted(int(m.group(1)) for m in found if m)


def committed_batches(spark: SparkSession, part_dir: str) -> list[int]:
    """Ids of the ``batch_id=N`` partitions of ``part_dir`` carrying the
    ``_SUCCESS`` job-commit marker, ascending; one without it is a
    crashed write."""
    return [
        b for b in _batch_dirs(spark, part_dir)
        if fs_exists(spark, f"{part_dir}/batch_id={b}/_SUCCESS")
    ]


def read_mark(
    spark: SparkSession, mark_dir: str, parts: str | None = None
) -> int | None:
    """The mark in ``mark_dir``: every batch with id <= it has landed.
    ``None`` when the file is missing or cannot be parsed — unless
    ``parts`` names a ``batch_id=N`` partition directory, whose highest
    committed partition then stands in for the mark."""
    try:
        return int(fs_read_text(spark, f"{mark_dir}/{MARK}"))
    except (TypeError, ValueError):
        done = committed_batches(spark, parts) if parts else []
        return done[-1] if done else None


def write_mark(spark: SparkSession, mark_dir: str, batch_id: int) -> None:
    """Atomically set the mark in ``mark_dir`` to ``batch_id``. Call it
    only after the batch's data has committed."""
    tmp = f"{mark_dir}/{MARK}.tmp"
    fs_write_text(spark, tmp, str(batch_id))
    _rename_over(spark, tmp, f"{mark_dir}/{MARK}")


def _rename_over(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` onto ``dst``, replacing it in one step. Paths are
    qualified by ``src``'s FileSystem first, so relative ones resolve
    as they do everywhere else (FileContext has its own working dir)."""
    fs, hsrc, jvm = _hadoop_fs(spark, src)
    hfs = jvm.org.apache.hadoop.fs
    fc = hfs.FileContext.getFileContext(spark._jsc.hadoopConfiguration())
    rename = getattr(hfs, "Options$Rename")
    opts = spark.sparkContext._gateway.new_array(rename, 1)
    opts[0] = rename.OVERWRITE
    fc.rename(
        fs.makeQualified(hsrc), fs.makeQualified(hfs.Path(dst)), opts
    )


def batch_done(
    spark: SparkSession,
    mark_dir: str,
    batch_id: int,
    parts: str | None = None,
    legacy: bool = False,
) -> bool:
    """Whether ``batch_id`` already landed: the mark in ``mark_dir``
    (read as :func:`read_mark` with ``parts``) is at or above it. With
    ``legacy``, the per-batch marker directories ``batch_id=N`` that
    older writers left in ``mark_dir`` count too, and those the mark
    already covers are deleted. A skip is logged as one JSON line; no
    Spark job runs."""
    mark = read_mark(spark, mark_dir, parts)
    done = mark is not None and mark >= batch_id
    marker = None
    if legacy:
        for b in _batch_dirs(spark, mark_dir):
            if mark is not None and b <= mark:
                fs_delete(spark, f"{mark_dir}/batch_id={b}")
            elif b == batch_id:
                done, marker = True, f"{mark_dir}/batch_id={b}"
    if done:
        log.info(json.dumps({
            "event": "batch_skipped",
            "mark": f"{mark_dir}/{MARK}",
            "batch_id": batch_id,
            "mark_value": mark,
            "legacy_marker": marker,
        }))
    return done


def must_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename or raise: a state rename moves the only copy of some
    rows, so a False from the Hadoop rename (target exists, source
    gone, permission) must never pass as success."""
    if not fs_rename(spark, src, dst):
        raise IOError(
            f"state rename failed: {src} -> {dst} (does the "
            "destination already exist?). The state layout is "
            "mid-transition; resolve the paths before restarting."
        )


def merge_partitions(
    spark: SparkSession,
    part_dir: str,
    staging: str,
    bound: int,
    target: int | None = None,
    below: bool = False,
) -> int:
    """Merge every committed partition of ``part_dir`` with id <=
    ``bound`` (< ``bound`` when ``below``) into the one partition
    ``batch_id=<target>`` (default ``bound``); returns how many were
    merged (0 or 1 leaves the directory untouched). The merge is
    written in full to ``<staging><bound>`` before any source is
    deleted and it is renamed in; :func:`recover_merge`, called with
    the same arguments minus ``bound`` before every read, finishes a
    crashed commit. Must not run concurrently with a writer."""
    sources = _covered(spark, part_dir, bound, below)
    if len(sources) > 1:
        staged = f"{staging}{bound}"
        (
            spark.read.parquet(part_dir)
            .filter(F.col("batch_id").isin(sources))
            .drop("batch_id")
            .write.mode("overwrite")
            .parquet(staged)
        )
        _land_merge(spark, part_dir, staged, bound, target, below)
    return len(sources)


def recover_merge(
    spark: SparkSession,
    part_dir: str,
    staging: str,
    target: int | None = None,
    below: bool = False,
) -> None:
    """Finish a crashed :func:`merge_partitions`: a fully staged table
    (``_SUCCESS`` present) replaces the sources still left; one without
    ``_SUCCESS`` crashed before any source was touched and is deleted.
    Idempotent."""
    parent, prefix = staging.rsplit("/", 1)
    for name in fs_ls(spark, parent):
        if not name.startswith(prefix):
            continue
        staged = f"{parent}/{name}"
        if fs_exists(spark, f"{staged}/_SUCCESS"):
            bound = int(name[len(prefix):])
            _land_merge(spark, part_dir, staged, bound, target, below)
        else:
            fs_delete(spark, staged)


def _covered(
    spark: SparkSession, part_dir: str, bound: int, below: bool
) -> list[int]:
    return [
        b for b in committed_batches(spark, part_dir)
        if b < bound or (b == bound and not below)
    ]


def _land_merge(
    spark: SparkSession,
    part_dir: str,
    staged: str,
    bound: int,
    target: int | None,
    below: bool,
) -> None:
    for b in _covered(spark, part_dir, bound, below):
        fs_delete(spark, f"{part_dir}/batch_id={b}")
    fs_mkdirs(spark, part_dir)
    dst = bound if target is None else target
    must_rename(spark, staged, f"{part_dir}/batch_id={dst}")
