"""Streaming ingest entry point — the live twin of jobs/rollup_job.py.

The reference engine is a streaming operator graph; the batch CLI covers
backfill, and THIS job covers continuous ingestion of the same
``pages(url, warc_ts, html, text, lang)`` stream with the engine's
Structured Streaming components:

1. **Dedup report** — :func:`streaming_exact_dedup` over the page payload
   (state per content sha2, optional event-time retention TTL): one verdict
   row per page, ``is_dup``/``dup_of``, written to ``<out>/dedup``. The
   report drives downstream filtering; it is a separate query (not chained
   in front of the rollup) because an applyInPandasWithState stage feeding
   a windowed aggregation is not a supported stateful-operator chain, and
   at ingest scale the two have different state lifetimes anyway.
2. **Rollup + compaction** — :func:`streaming_rollup_to_gorilla`:
   watermarked 1m windowed partials (identical decomposable columns to the
   batch tier), closed windows Gorilla-encoded per micro-batch into
   idempotent ``batch_id=<id>`` partitions under ``<out>/blobs``.

Both queries checkpoint under ``<out>/_checkpoints/...`` — re-running the
job processes only NEW source files and the dedup state store carries the
seen-content hashes across runs (pinned by tests/test_stream_ingest_job.py).
``--trigger available-now`` (default) drains what exists and exits — the
backfill/cron shape; ``--trigger <seconds>`` runs continuously.

Deployment: spark-submit --py-files ezmsg_sigproc_spark.zip
jobs/stream_ingest_job.py --source <dir> --out <lake> [--ttl-hours N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def run(spark, source: str, out: str, ttl_hours: float | None = None,
        watermark: str = "2 minutes", trigger_seconds: float | None = None,
        max_files_per_trigger: int = 8, dedup_mode: str = "report",
        dedup_watermark: str | None = None) -> dict:
    """Run both ingest queries; returns the metrics dict (totals over the
    sink contents, so re-runs report cumulative state honestly).

    ``dedup_mode``:
    - ``'report'`` — one verdict row per page (``is_dup``/``dup_of``
      lineage) via the Python stateful op. Measured cost at local[32]:
      ~6k docs/s on 900k distinct-content pages, bound by the per-GROUP
      Python dispatch of applyInPandasWithState (900k content hashes =
      900k function invocations; RocksDB vs HDFS state store made no
      difference — 149 vs 152 s).
    - ``'report-join'`` — the same verdict rows (``is_dup``/``dup_of``
      lineage, parity pytest-pinned) at JVM join speed: ``foreachBatch``
      maintains a compact first-seen table (content_h, first_id) under
      ``<out>/_first_seen`` and left-joins each micro-batch against it —
      no Python stage, no per-group dispatch. Both sinks are written as
      idempotent ``batch_id=<n>`` partitions (a replayed batch overwrites
      its own partitions and joins only against strictly older ones), so
      checkpoint recovery is exactly-once like the state-store path.
      TTL is not supported here (the first-seen table has no event-time
      eviction; use ``report`` when a retention window is required).
    - ``'drop'`` — no lineage, just the FILTERED corpus (first arrival per
      content hash survives) via the JVM stateful ``dropDuplicates`` /
      ``dropDuplicatesWithinWatermark`` — no Python in the loop. With
      ``ttl_hours`` the retention window maps to
      ``dropDuplicatesWithinWatermark`` (event-time, same trade-off as the
      report mode's TTL).

    ``dedup_watermark``: lateness allowance for the report mode's TTL path
    (default: the rollup ``watermark``). The previous hardcoded '0 seconds'
    silently dropped any page whose warc_ts trailed the max event time of a
    prior trigger — crawl files are rarely globally time-ordered, and
    maxFilesPerTrigger splits the source across triggers (ADVICE r6).
    """
    from pyspark.sql import functions as F

    from ezmsg_sigproc_spark.streaming.dedup_stream import (
        prior_claim_batches,
        streaming_exact_dedup,
    )
    from ezmsg_sigproc_spark.streaming.stream_rollup import (
        streaming_rollup_to_gorilla,
    )

    t0 = time.monotonic()
    dedup_sink = os.path.join(out, "dedup")
    clean_sink = os.path.join(out, "clean")
    blobs_path = os.path.join(out, "blobs")
    ck_dedup = os.path.join(out, "_checkpoints", "dedup")
    ck_rollup = os.path.join(out, "_checkpoints", "rollup")

    def source_stream():
        return (spark.readStream.schema(PAGES_SCHEMA)
                .option("maxFilesPerTrigger", max_files_per_trigger)
                .parquet(os.path.join(source, "*")))

    # -- query 1: dedup (report or drop) ---------------------------------
    # page identity = (url, warc_ts): the same crawl fetched twice IS the
    # duplicate case; content key = the raw html payload
    if dedup_mode == "drop":
        docs = source_stream().withColumn("content_h", F.sha2("html", 256))
        if ttl_hours is not None:
            survivors = (docs.withWatermark(
                "warc_ts", f"{int(ttl_hours * 3600)} seconds")
                .dropDuplicatesWithinWatermark(["content_h"]))
        else:
            survivors = docs.dropDuplicates(["content_h"])
        w = (survivors.drop("content_h").writeStream.format("parquet")
             .option("path", clean_sink)
             .option("checkpointLocation", ck_dedup))
    elif dedup_mode == "report-join":
        if ttl_hours is not None:
            raise ValueError(
                "report-join has no event-time eviction; use --dedup-mode "
                "report for a TTL retention window")
        docs = source_stream().select(
            F.concat_ws("#", "url", F.col("warc_ts").cast("string")
                        ).alias("doc_id"),
            F.sha2("html", 256).alias("content_h"))
        first_seen_dir = os.path.join(out, "_first_seen")

        def process_batch(bdf, batch_id: int):
            sess = bdf.sparkSession
            b = bdf.persist()
            try:
                mins = b.groupBy("content_h").agg(
                    F.min("doc_id").alias("batch_first"))
                if prior_claim_batches(first_seen_dir, batch_id):
                    t = sess.read.parquet(first_seen_dir).filter(
                        F.col("batch_id") < batch_id).select(
                        "content_h", "first_id")
                    firsts = mins.join(t, "content_h", "left").select(
                        "content_h",
                        F.coalesce("first_id", "batch_first").alias("first_id"),
                        F.col("first_id").isNotNull().alias("seen_before"))
                else:
                    firsts = mins.select(
                        "content_h", F.col("batch_first").alias("first_id"),
                        F.lit(False).alias("seen_before"))
                verdict = b.join(firsts, "content_h").select(
                    F.col("doc_id").alias("id"), "content_h",
                    (F.col("doc_id") != F.col("first_id")).alias("is_dup"),
                    F.when(F.col("doc_id") != F.col("first_id"),
                           F.col("first_id")).otherwise(F.lit("")
                                                        ).alias("dup_of"))
                verdict.write.mode("overwrite").parquet(
                    os.path.join(dedup_sink, f"batch_id={batch_id}"))
                (firsts.filter(~F.col("seen_before"))
                 .select("content_h", "first_id")
                 .write.mode("overwrite").parquet(
                     os.path.join(first_seen_dir, f"batch_id={batch_id}")))
            finally:
                b.unpersist()

        w = (docs.writeStream.foreachBatch(process_batch)
             .option("checkpointLocation", ck_dedup))
    else:
        docs = source_stream().withColumn(
            "doc_id", F.concat_ws("#", "url", F.col("warc_ts").cast("string")))
        kwargs = {}
        if ttl_hours is not None:
            kwargs = {"ttl_seconds": ttl_hours * 3600.0,
                      "event_ts_col": "warc_ts",
                      "watermark_delay": dedup_watermark or watermark}
        dedup = streaming_exact_dedup(docs, id_col="doc_id", text_col="html",
                                      **kwargs)
        w = (dedup.writeStream.format("parquet")
             .option("path", dedup_sink)
             .option("checkpointLocation", ck_dedup))
    if trigger_seconds is None:
        q1 = w.trigger(availableNow=True).start()
    else:
        q1 = w.trigger(processingTime=f"{trigger_seconds} seconds").start()

    # -- query 2: watermarked 1m rollup -> Gorilla compaction ------------
    q2 = streaming_rollup_to_gorilla(source_stream(), blobs_path, ck_rollup,
                                     watermark=watermark)

    stop_note = None
    if trigger_seconds is None:
        ok1 = q1.awaitTermination(3600)
        ok2 = q2.awaitTermination(3600)
        if not (ok1 and ok2):
            raise RuntimeError("ingest query failed to drain within 3600 s")
    else:  # continuous mode: run until interrupted, then still report
        try:
            q1.awaitTermination()
            q2.awaitTermination()
        except BaseException as e:  # SIGINT or StreamingQueryException: the
            # docstring promises a metrics dict either way (ADVICE r6) —
            # stop both queries so the sink reads below see committed data
            # only, and record why we stopped instead of swallowing it
            stop_note = f"{type(e).__name__}: {e}"[:200]
            for q in (q1, q2):
                try:
                    q.stop()
                except Exception:
                    pass

    metrics: dict = {"elapsed_sec": round(time.monotonic() - t0, 3),
                     "dedup_mode": dedup_mode}
    if stop_note:
        metrics["stopped_by"] = stop_note
    try:
        if dedup_mode == "drop":
            n = spark.read.parquet(clean_sink).count()
            metrics["dedup"] = {"survivors": n, "path": clean_sink,
                                "ttl_hours": ttl_hours}
        else:
            rep = spark.read.parquet(dedup_sink)
            agg = rep.agg(F.count("*").alias("docs"),
                          F.sum(F.col("is_dup").cast("long")).alias("dups")
                          ).collect()[0]
            metrics["dedup"] = {"docs": agg.docs, "dups": int(agg.dups or 0),
                                "path": dedup_sink,
                                "ttl_hours": ttl_hours}
    except Exception as e:  # empty source → no sink yet
        metrics["dedup"] = {"docs": 0, "dups": 0, "note": str(e)[:120]}
    try:
        blobs = spark.read.parquet(blobs_path)
        agg = blobs.agg(F.count("*").alias("blocks"),
                        F.sum("n_points").alias("np"),
                        F.sum("ts_bytes").alias("tb"),
                        F.sum("val_bytes").alias("vb"),
                        F.min("roundtrip_ok").alias("ok")).collect()[0]
        metrics["rollup_blobs"] = {
            "blocks": agg.blocks, "points": int(agg.np or 0),
            "bytes_per_point": round((agg.tb + agg.vb) / max(agg.np or 1, 1), 3),
            "roundtrip_ok": bool(agg.ok), "path": blobs_path,
        }
    except Exception as e:  # watermark may not have closed any window yet
        metrics["rollup_blobs"] = {"blocks": 0, "points": 0,
                                   "note": str(e)[:120]}
    return metrics


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True,
                    help="directory watched for pages parquet files")
    ap.add_argument("--out", required=True, help="ingest output root")
    ap.add_argument("--ttl-hours", type=float, default=None,
                    help="event-time retention window for dedup state")
    ap.add_argument("--watermark", default="2 minutes")
    ap.add_argument("--trigger", default="available-now",
                    help="'available-now' (drain + exit) or seconds")
    ap.add_argument("--dedup-mode", choices=("report", "report-join", "drop"),
                    default="report",
                    help="'report' = is_dup/dup_of lineage rows (Python "
                         "stateful, supports --ttl-hours); 'report-join' = "
                         "same lineage rows at JVM join speed via a "
                         "foreachBatch first-seen table (no TTL); 'drop' = "
                         "JVM dropDuplicates, writes the filtered corpus "
                         "to <out>/clean")
    ap.add_argument("--dedup-watermark", default=None,
                    help="lateness allowance for report-mode TTL dedup "
                         "(default: --watermark)")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from ezmsg_sigproc_spark.session import get_spark

    spark = get_spark(app_name="stream_ingest_job", cores=args.cores)
    trig = None if args.trigger == "available-now" else float(args.trigger)
    metrics = run(spark, args.source, args.out, ttl_hours=args.ttl_hours,
                  watermark=args.watermark, trigger_seconds=trig,
                  dedup_mode=args.dedup_mode,
                  dedup_watermark=args.dedup_watermark)
    print(json.dumps(metrics, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
