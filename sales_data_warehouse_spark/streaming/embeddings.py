"""Streaming embedding ingest → persisted IVF index (SURVEY §2.9
extension; the LLM-pipeline shape ``operators.similarity.ivf_append``'s
docstring describes: train once on a seed corpus, append every new
micro-batch, REBUILD when the cell-size monitor says the distribution
has drifted off the trained centroids — one call,
``similarity.rebuild_ivf_index``, crash-safe in place).

Round 9 (r8 VERDICT #6): ``ivf_cell_stats`` existed but nothing called
it — the rebuild signal never fired in the pipeline that needs it. The
``foreachBatch`` sink here runs the monitor after every append and
surfaces the ratio through ``on_stats`` (metrics hook) plus a loud
warning once it crosses ``skew_warn_ratio``.

Replay semantics: appends are guarded by a batch mark
(``sources.commit``) namespaced by the stream's checkpoint (see
:func:`ivf_append_batch`). Its one window, a crash between the append
and the mark, appends one batch twice; IVF search tolerates duplicate
vectors (same cell, same neighbor id — de-dup top-k by id if exact
multiplicity matters) and the next rebuild heals the table.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from sales_data_warehouse_spark.operators.similarity import (
    IvfCellStats,
    IvfRecallStats,
    ivf_append,
    ivf_cell_stats,
    ivf_recall_audit,
    load_ivf_index,
)
from sales_data_warehouse_spark.sources.commit import (
    batch_done,
    write_mark,
)

#: embeddings-table schema (streaming sources need it declared).
EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def read_embeddings_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over an embeddings drop directory (parquet),
    one file per trigger by default — same backfill-exercises-the-
    state-path rationale (and the same Spark-written-subdirectory
    glob gotcha) as ``read_documents_stream``."""
    return (
        spark.readStream.schema(EMBEDDINGS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(drop_dir)
    )


def ivf_append_batch(
    spark: SparkSession,
    index_path: str,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compute_stats: bool = True,
    marker_namespace: str | None = None,
) -> IvfCellStats | None:
    """Fold one micro-batch into the persisted index and return the
    post-append cell stats (None when ``compute_stats=False`` — the
    monitor is one groupBy over the WHOLE assigned table, so callers
    on a hot path throttle it; see ``stats_every_n_batches``). Plain
    function (the ``foreachBatch`` sink calls it) so replay semantics
    are directly testable without driving a stream: a batch the mark
    already covers (``sources.commit``) is skipped — no append, stats
    still reported.

    ``marker_namespace`` scopes the mark: ``batch_id`` is unique only
    within ONE checkpoint lineage, so two different streams (or a
    stream restarted with a fresh checkpoint) feeding the same index
    would collide on ``batch_id=0, 1, ...`` and the guard would
    SILENTLY DROP their appends (r9 review). The streaming wrapper
    passes a digest of its checkpoint location; direct callers
    managing their own batch ids may leave it None (one logical
    lineage). Deleting a checkpoint's CONTENTS while reusing its path
    restarts batch ids inside the same namespace — as with any
    Structured Streaming sink state, clear the matching
    ``_ingest_batches/<namespace>`` alongside."""
    mark_dir = f"{index_path}/_ingest_batches"
    if marker_namespace:
        mark_dir = f"{mark_dir}/{marker_namespace}"
    if not batch_done(spark, mark_dir, batch_id, legacy=True):
        ivf_append(spark, index_path, batch_df, id_col, vec_col)
        write_mark(spark, mark_dir, batch_id)
    return ivf_cell_stats(spark, index_path) if compute_stats else None


def start_streaming_ivf_append(
    spark: SparkSession,
    drop_dir: str,
    index_path: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    max_files_per_trigger: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_stats: Callable[[int, IvfCellStats], None] | None = None,
    skew_warn_ratio: float = 8.0,
    stats_every_n_batches: int = 1,
    recall_audit_every_n_batches: int | None = None,
    recall_floor: float = 0.5,
    recall_k: int = 5,
    recall_nprobe: int = 4,
    recall_sample_permille: int = 2,
    on_recall: Callable[[int, IvfRecallStats], None] | None = None,
):
    """Continuous drop-dir → IVF index growth with the drift monitor
    in the loop: every micro-batch appends (replay-guarded), then
    ``ivf_cell_stats`` runs and its report is pushed to ``on_stats``
    (batch_id, stats) — wire it to metrics/logs; once ``skew_ratio``
    reaches ``skew_warn_ratio`` a UserWarning fires (the 'rebuild me'
    signal — the upper end of ivf_cell_stats' ~4-8 rule of thumb,
    since a stream should page someone only when drift is unambiguous;
    UserWarning, not ResourceWarning, because CPython's default
    filters HIDE ResourceWarning and a monitor nobody sees is not a
    monitor). Returns the StreamingQuery.

    ``stats_every_n_batches``: the monitor is one groupBy-count over
    the ENTIRE assigned table, so running it per micro-batch costs
    O(index) each time — O(N²) cumulative rows scanned over N
    appended batches. Fine for the default one-file-per-trigger
    backfill shape; for a long-running high-frequency stream set it
    to sample every Nth batch (drift is gradual — a sampled monitor
    catches it just as surely, N batches later at worst).

    ``recall_audit_every_n_batches`` (default None = off) runs the
    QUALITY half of the rebuild decision in the same loop:
    ``ivf_recall_audit`` on the persisted index every Nth batch, the
    report pushed to ``on_recall``, with a UserWarning once measured
    recall@k drops below ``recall_floor``. The skew number says cells
    went lopsided; this says search quality actually paid — warn on
    the number the SLA is written against.

    **Production default: leave this off and run the audit from an
    offline scheduler** calling ``ivf_recall_audit(load_ivf_index(...))``
    on a time cadence (hourly/daily). The in-loop cost arithmetic is
    unavoidable: each audit reloads the index and scans the ENTIRE
    assigned table for its brute-force truth side, so after N appended
    batches of b rows at cadence k the cumulative rows scanned are
    sum over audits of (i·k·b) ≈ N²·b/(2k) — quadratic in stream
    length for ANY fixed k, the same curve the stats monitor had
    before its throttle, and unlike skew the quality signal does not
    need batch-cadence latency (recall degrades over many appends, not
    one). Reserve the in-loop hook for bounded backfills
    (``available_now=True``) and short-lived ingest streams where N is
    small by construction."""

    checkpoint = checkpoint_dir or f"{index_path}/_append_checkpoint"
    # scope the mark to this checkpoint lineage (ivf_append_batch)
    import hashlib

    namespace = hashlib.md5(checkpoint.encode()).hexdigest()[:12]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        compute = (
            stats_every_n_batches <= 1
            or batch_id % stats_every_n_batches == 0
        )
        stats = ivf_append_batch(
            spark,
            index_path,
            batch_df,
            batch_id,
            id_col,
            vec_col,
            compute_stats=compute,
            marker_namespace=namespace,
        )
        if stats is not None:
            if on_stats is not None:
                on_stats(batch_id, stats)
            if stats.skew_ratio >= skew_warn_ratio:
                import warnings

                warnings.warn(
                    f"streaming ivf_append: skew_ratio "
                    f"{stats.skew_ratio:.2f} >= {skew_warn_ratio} after "
                    f"batch {batch_id} (max cell {stats.max_rows} rows "
                    f"vs median {stats.median_rows}) — the appended "
                    "distribution has drifted off the trained "
                    "centroids; rebuild the index "
                    "(similarity.rebuild_ivf_index)",
                    UserWarning,
                    stacklevel=2,
                )
        if (
            recall_audit_every_n_batches
            and batch_id % recall_audit_every_n_batches == 0
        ):
            audit = ivf_recall_audit(
                load_ivf_index(spark, index_path),
                k=recall_k,
                nprobe=recall_nprobe,
                sample_permille=recall_sample_permille,
            )
            if on_recall is not None:
                on_recall(batch_id, audit)
            if (
                audit.recall_at_k is not None
                and audit.recall_at_k < recall_floor
            ):
                import warnings

                warnings.warn(
                    f"streaming ivf_append: measured recall@"
                    f"{recall_k} {audit.recall_at_k:.3f} < "
                    f"{recall_floor} after batch {batch_id} "
                    f"({audit.caught_hits}/{audit.truth_hits} hits "
                    f"over {audit.n_queries} sampled queries at "
                    f"nprobe={recall_nprobe}) — append drift is now "
                    "COSTING search quality; rebuild the index "
                    "(similarity.rebuild_ivf_index)",
                    UserWarning,
                    stacklevel=2,
                )

    stream = read_embeddings_stream(spark, drop_dir, max_files_per_trigger)
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation",
        checkpoint,
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
