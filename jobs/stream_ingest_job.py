"""Streaming ingest entry point — the live twin of jobs/rollup_job.py.

The reference engine is a streaming operator graph; the batch CLI covers
backfill, and THIS job covers continuous ingestion of the same
``pages(url, warc_ts, html, text, lang)`` stream with the engine's
Structured Streaming components:

1. **Dedup report** — :func:`streaming_exact_join` over the page payload
   (claims per content sha2 under ``<out>/_first_seen``, optional event-time
   retention TTL): one verdict row per page, ``is_dup``/``dup_of``, written
   to ``<out>/dedup``. The report drives downstream filtering; it is a
   separate query from the rollup because the two have different state
   lifetimes at ingest scale. ``--dedup-mode drop`` writes the filtered
   corpus to ``<out>/clean`` instead.
2. **Rollup + compaction** — :func:`streaming_rollup_to_gorilla`:
   watermarked 1m windowed partials (identical decomposable columns to the
   batch tier), closed windows Gorilla-encoded per micro-batch into
   idempotent ``batch_id=<id>`` partitions under ``<out>/blobs``.

Both queries checkpoint under ``<out>/_checkpoints/...`` — re-running the
job processes only NEW source files and the claims table carries the
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
        max_files_per_trigger: int = 8,
        dedup_mode: str = "report-join") -> dict:
    """Run both ingest queries; returns the metrics dict (totals over the
    sink contents, so re-runs report cumulative state honestly).

    ``dedup_mode``:
    - ``'report-join'`` (default) — one verdict row per page
      (``is_dup``/``dup_of`` lineage) from :func:`streaming_exact_join`: a
      ``foreachBatch`` left join of each micro-batch against the claims
      table (content_h, first_id) under ``<out>/_first_seen``, no Python
      stage (51.3k docs/s at local[32], against 9.4k for the Python
      stateful op it replaced). Both sinks are idempotent ``batch_id=<n>``
      partitions, so checkpoint recovery is exactly-once. With
      ``ttl_hours`` a claim expires once no arrival of its content is
      within ``ttl_hours`` of the newest event time (``warc_ts``) of the
      batches before; no page is dropped as late.
    - ``'drop'`` — no lineage, just the FILTERED corpus (first arrival per
      content hash survives) via the JVM stateful ``dropDuplicates`` /
      ``dropDuplicatesWithinWatermark`` (with ``ttl_hours``, the retention
      window is the watermark delay) — no Python in the loop.
    """
    if dedup_mode not in ("report-join", "drop"):
        raise ValueError(f"unknown dedup_mode {dedup_mode!r}: "
                         "expected 'report-join' or 'drop'")
    from pyspark.sql import functions as F

    from ezmsg_sigproc_spark.streaming.dedup_stream import streaming_exact_join
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

    # -- query 1: dedup (report-join or drop) ----------------------------
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
             .option("path", clean_sink))
    else:
        docs = source_stream().withColumn(
            "doc_id", F.concat_ws("#", "url", F.col("warc_ts").cast("string")))
        w = streaming_exact_join(
            docs, dedup_sink, os.path.join(out, "_first_seen"),
            id_col="doc_id", text_col="html",
            ttl_seconds=None if ttl_hours is None else ttl_hours * 3600.0,
            event_ts_col="warc_ts")
    w = w.option("checkpointLocation", ck_dedup)
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
                    help="event-time retention window for dedup claims")
    ap.add_argument("--watermark", default="2 minutes")
    ap.add_argument("--trigger", default="available-now",
                    help="'available-now' (drain + exit) or seconds")
    ap.add_argument("--dedup-mode", choices=("report-join", "drop"),
                    default="report-join",
                    help="'report-join' = is_dup/dup_of lineage rows per "
                         "page from a foreachBatch claims-table join; "
                         "'drop' = JVM dropDuplicates, writes the filtered "
                         "corpus to <out>/clean")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from ezmsg_sigproc_spark.session import engine_on_worker_path, get_spark

    engine_on_worker_path()
    spark = get_spark(app_name="stream_ingest_job", cores=args.cores)
    trig = None if args.trigger == "available-now" else float(args.trigger)
    metrics = run(spark, args.source, args.out, ttl_hours=args.ttl_hours,
                  watermark=args.watermark, trigger_seconds=trig,
                  dedup_mode=args.dedup_mode)
    print(json.dumps(metrics, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
