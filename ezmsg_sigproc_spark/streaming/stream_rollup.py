"""Structured-Streaming variant of the 1m rollup.

The reference is a streaming engine; chunk-invariance (SURVEY.md §1.2) makes
our batch rollups its semantic equal, but for live ingestion the same partials
run as a Structured Streaming query: file/Kafka source → watermark → windowed
aggregation → parquet sink. The aggregate columns are the identical
decomposable partials as plans/rollup_tiers.rollup_base, so a streamed 1m
tier and a batch-recomputed 1m tier agree row-for-row once the watermark
closes a window.

The reference's only late-data machinery is Resample's high-water mark
(``src/ezmsg/sigproc/resample.py:66-84``); Spark watermarks generalize it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_rollup_1m(pages_stream: DataFrame, watermark: str = "2 minutes") -> DataFrame:
    """pages readStream → per-(url, 1-minute window) decomposable partials."""
    sig = pages_stream.select(
        "url",
        F.col("warc_ts").alias("ts"),
        F.length("html").cast("double").alias("value"),
    )
    return (
        sig.withWatermark("ts", watermark)
        .groupBy("url", F.window("ts", "1 minute").alias("win"))
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.sum(F.col("value") * F.col("value")).alias("sum_sq"),
        )
        .select(
            "url",
            F.floor(F.col("win.start").cast("double") / 60).cast("bigint").alias("bin_m"),
            "n", "sum", "min", "max", "sum_sq",
        )
    )


def write_gorilla_batch(batch_df: DataFrame, batch_id: int, blobs_path: str) -> None:
    """Idempotent per-micro-batch Gorilla compaction sink: encode the batch's
    closed 1m windows and OVERWRITE ``<blobs_path>/batch_id=<id>``. Re-running
    the same batch_id (foreachBatch retry) replaces, never duplicates.

    The batch is persisted for the emptiness check and the write: without
    it the check's partitions run the stateful aggregation a second time."""
    from ..plans.rollup_tiers import gorilla_blobs_1m

    b = batch_df.persist()
    try:
        if b.isEmpty():
            return
        gorilla_blobs_1m(b).write.mode("overwrite").partitionBy("bucket").parquet(
            f"{blobs_path}/batch_id={batch_id}"
        )
    finally:
        b.unpersist()


def streaming_rollup_to_gorilla(
    pages_stream: DataFrame,
    blobs_path: str,
    checkpoint: str,
    watermark: str = "2 minutes",
):
    """The full streaming compaction chain: watermarked 1m rollup (append
    mode — each window emitted exactly once when the watermark closes it) →
    per-micro-batch Gorilla encoding of the closed windows' mean series →
    parquet blob store partitioned by day bucket.

    ``foreachBatch`` receives only NEWLY-closed windows per micro-batch, so
    each (url, bucket) appends blocks covering disjoint bin ranges — the
    reader (:func:`ezmsg_sigproc_spark.operators.compression.gorilla_decode`)
    simply unions blocks. Returns the started StreamingQuery.

    Idempotence: ``foreachBatch`` is at-least-once — a retry after a
    partially-completed write but before the checkpoint commit re-delivers
    the same ``batch_id``. Each micro-batch therefore writes with
    ``overwrite`` into its own ``batch_id=<id>`` subdirectory: a retry
    replaces the partial output instead of appending duplicate blocks (the
    same staged→atomic discipline as ``RollupStore.write_tier``). Readers
    see ``batch_id`` as an ordinary discovered partition column.
    """
    rolled = streaming_rollup_1m(pages_stream, watermark=watermark)

    def write_batch(batch_df: DataFrame, batch_id: int):
        write_gorilla_batch(batch_df, batch_id, blobs_path)

    return (
        rolled.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
