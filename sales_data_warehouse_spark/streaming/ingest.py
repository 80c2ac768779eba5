"""Streaming ingest of sales CSVs: landing stream + streaming cleanse.

The batch pipeline ingests one file per ``etl()`` call (reference
``Import.sql:83-88``); at scale the natural shape is a drop-directory
the upstream keeps writing CSVs into. The cleanse applied here is the
*stateless* core of ``operators.cleansing.cleanse`` — NULL-completeness
and cast-failure reject routing, address split, day-grain date — which
streams with zero state. Two batch-only steps are intentionally absent:

* max(order_id)+n assignment for missing ids (reference
  ``Cleansing.sql:56-61``) needs a global MAX over a finite input; a
  stream has no final MAX. Streaming rows with a NULL id keep it NULL
  for a downstream batch compaction to assign.
* full-row DISTINCT (``Cleansing.sql:118-122``) over the whole corpus is
  unbounded state; ``dedupe_within`` offers the streaming analogue
  (``dropDuplicatesWithinWatermark``) that bounds state by event time.
"""

from __future__ import annotations

import functools
import operator as pyop

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_warehouse_spark.operators.cleansing import (
    ORDER_DATE_FORMAT,
    REQUIRED_RAW,
    _split_address,
)
from sales_data_warehouse_spark.schemas import LANDING_COLUMNS, RAW_CSV_COLUMNS


def read_sales_csv_stream(spark: SparkSession, drop_dir: str) -> DataFrame:
    """All-string landing stream over a CSV drop directory.

    Mirrors the batch reader: explicit all-TEXT schema (malformed rows
    must survive to be reject-routed), header skipped per file.
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in RAW_CSV_COLUMNS]
    )
    df = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("quote", '"')
        .option("maxFilesPerTrigger", 16)
        .csv(drop_dir)
    )
    return df.toDF(*LANDING_COLUMNS)


def cleanse_stream(landing: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a landing *stream* into (cleansed, invalid) streams.

    Same reject semantics as the batch cleanse (SURVEY P2/P3): NULL in a
    required field or any cast failure routes the raw row to invalid.
    Entirely stateless — a pure per-row projection + filter, so it runs
    in append mode with no state store and no shuffle.
    """
    null_any = functools.reduce(
        pyop.or_, (F.col(c).isNull() for c in REQUIRED_RAW)
    )
    typed = landing.withColumns(
        {
            "_order_id": F.col("order_id").cast("int"),
            "_quantity": F.col("quantity_ordered").cast("int"),
            "_price": F.col("price_each").cast("decimal(10,2)"),
            "_ts": F.to_timestamp(F.col("order_date"), ORDER_DATE_FORMAT),
        }
    )
    cast_failed = (
        (F.col("_quantity").isNull() & F.col("quantity_ordered").isNotNull())
        | (F.col("_price").isNull() & F.col("price_each").isNotNull())
        | (F.col("_ts").isNull() & F.col("order_date").isNotNull())
        | (F.col("_order_id").isNull() & F.col("order_id").isNotNull())
    )
    reason = (
        F.when(null_any, F.lit("null_required_field"))
        .when(cast_failed, F.lit("cast_failure"))
        .otherwise(F.lit(None))
    )
    flagged = typed.withColumn("_reject", reason)

    invalid = flagged.filter(F.col("_reject").isNotNull()).select(
        *LANDING_COLUMNS, F.col("_reject").alias("reject_reason")
    )

    addr = _split_address(F.col("purchase_address"))
    cleansed = flagged.filter(F.col("_reject").isNull()).select(
        F.col("_order_id").alias("order_id"),
        F.trim(F.col("product")).alias("product"),
        F.col("_quantity").alias("quantity_ordered"),
        F.col("_price").alias("price_each"),
        F.col("_ts").alias("order_ts"),  # streams keep event time...
        F.col("_ts").cast("date").alias("order_date"),  # ...and day grain
        addr["street"].alias("street"),
        addr["city"].alias("city"),
        addr["state"].alias("state"),
        addr["postal"].alias("postal"),
    )
    return cleansed, invalid


def etl_batch_sink(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
) -> None:
    """Fold one landing micro-batch into the cleansed/invalid tables.
    Plain function (the ``foreachBatch`` sink calls it) so replay
    semantics are directly testable without driving a stream — see
    :func:`start_streaming_etl` for the per-table batch-mark contract.

    The micro-batch is persisted once (both outputs derive from it;
    without the persist each write re-parses the batch's CSV files —
    two source scans per trigger) and the two appends are submitted
    concurrently so each write's task tail back-fills with the other's
    tasks (the run_etl write pattern). Worker threads run under
    ``pyspark.inheritable_thread_target``, so they inherit the
    streaming micro-batch thread's JVM-local properties — job group,
    execution id, streaming tags — which keeps ``StreamingQuery.stop()``
    able to cancel in-flight batch writes and the UI attribution
    correct (r14 ADVICE: a plain thread pool dropped both).
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel, inheritable_thread_target

    from sales_data_warehouse_spark.sources.commit import (
        batch_done,
        write_mark,
    )

    todo = [
        t for t in ("cleansed", "invalid")
        if not batch_done(spark, f"{output_dir}/{t}", batch_id)
    ]
    if not todo:
        return

    batch_df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cleansed, invalid = cleanse_stream(batch_df)
        outputs = {"cleansed": cleansed, "invalid": invalid}

        def _append(table: str) -> None:
            writer = outputs[table].write.mode("append")
            if table == "cleansed":
                writer = writer.partitionBy("order_date")
            writer.parquet(f"{output_dir}/{table}")
            write_mark(spark, f"{output_dir}/{table}", batch_id)

        with ThreadPoolExecutor(max_workers=2) as pool:
            # session form: inherits JVM-local properties AND session
            # tags (the bare-function form warns and skips tags)
            worker = inheritable_thread_target(spark)(_append)
            for f in [pool.submit(worker, t) for t in todo]:
                f.result()
    finally:
        batch_df.unpersist()


def start_streaming_etl(
    spark: SparkSession,
    drop_dir: str,
    output_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Continuous landing -> cleansed/invalid parquet pipeline.

    One source pass per micro-batch: ``foreachBatch`` applies the
    (stateless) cleanse to the batch DataFrame and appends both outputs
    — cleansed partitioned by order_date so downstream dimension/fact
    rebuilds prune to the affected days. ``available_now=True`` drains
    pending files then stops (backfill mode); default runs forever.

    Returns the StreamingQuery (caller owns stop/awaitTermination).

    Replay semantics: each table carries its own batch mark
    (``sources.commit``), advanced after its append commits, so a
    checkpoint replay — including one after a crash BETWEEN the two
    appends — re-appends only the table(s) whose mark does not cover
    the batch. The one remaining window, a crash between a table's
    append commit and its mark, appends that batch to that table a
    second time on replay (at-least-once for one batch).

    ONE OUTPUT DIR = ONE CHECKPOINT LINEAGE
    (``compaction.enforce_output_lineage``, r14): ``batch_id`` (and so
    the high-water marks) are meaningful only within one checkpoint
    lineage — a restart under a fresh checkpoint would BOTH re-append
    every already-processed file (forgotten source offsets) and read
    stale marks as already-committed. Refused at start instead.
    """
    from sales_data_warehouse_spark.sources.compaction import (
        enforce_output_lineage,
    )

    checkpoint = checkpoint_dir or f"{output_dir}/_checkpoint"
    enforce_output_lineage(
        spark, output_dir, checkpoint, "start_streaming_etl"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        etl_batch_sink(spark, batch_df, batch_id, output_dir)

    landing = read_sales_csv_stream(spark, drop_dir)
    writer = landing.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedupe_within(
    cleansed: DataFrame,
    watermark: str = "1 day",
    keys: list[str] | None = None,
) -> DataFrame:
    """Streaming analogue of the batch full-row DISTINCT (quirk Q9).

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes — the scalable contract: exactly-once within the
    lateness bound, instead of unbounded all-history state.
    """
    keys = keys or [
        "product",
        "quantity_ordered",
        "price_each",
        "order_date",
        "street",
        "city",
        "state",
        "postal",
    ]
    return cleansed.withWatermark("order_ts", watermark)\
        .dropDuplicatesWithinWatermark(keys)
