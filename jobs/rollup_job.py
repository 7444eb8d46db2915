"""spark-submit entry point for the tiered rollup job.

Deployment shape per BASELINE.json north_rule: ``spark-submit --py-files
ezmsg_sigproc_spark.zip jobs/rollup_job.py --pages <path> --out <lake root>``
on a multi-executor cluster. In local mode the same CLI runs end-to-end:

    python jobs/rollup_job.py --pages /tmp/pages.parquet --out /tmp/lake \
        --retain-1m-hours 48

The job is resumable: each (tier, ts_bucket) partition is recorded in the
store's `_lineage` table after its files commit, and a restarted job skips
completed buckets (plans/rollup_tiers.RollupStore). Metrics are printed as
one JSON line (the counters table analog). :func:`run` is the same job
without the CLI, the twin of ``jobs/stream_ingest_job.run``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(spark, pages, out: str, *, compress_1m: str | None = None,
        retain_1m_hours: int | None = None) -> dict:
    """Roll ``pages`` up into the 1m/1h/1d tiers of the store at ``out``;
    returns the metrics dict.

    ``compress_1m``: also write the stored 1m tier as Gorilla blocks at this
    path (overwritten), then the 1m lineage commits they encode under
    ``<compress_1m>/_encoded_1m``. The tier is encoded again only when the
    store has a commit that list lacks (a bucket written, or reopened and
    written again, since), so a resumed run that adds no hour keeps the
    blocks. The summary is aggregated from the blocks on disk, so the tier
    is encoded and verified at most once per run. ``retain_1m_hours``: then
    drop the 1m hour buckets older than the newest N (N ≥ 1)."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from ezmsg_sigproc_spark.plans.rollup_tiers import (
        RollupStore,
        gorilla_blobs_1m,
        run_tiered_rollup,
    )

    if retain_1m_hours is not None and retain_1m_hours < 1:
        raise ValueError(f"retain_1m_hours must be at least 1, got {retain_1m_hours}")
    store = RollupStore(spark, out)
    metrics = run_tiered_rollup(spark, pages, store=store)

    if compress_1m:
        marker = os.path.join(compress_1m, "_encoded_1m")
        commits = store.commits("1m")
        try:
            encoded = {(r.ts_bucket, r.written_at)
                       for r in spark.read.parquet(marker).collect()}
        except AnalysisException:  # no complete encode at this path
            encoded = None
        if encoded is None or not commits <= encoded:
            # the overwrite deletes the old marker first, so a run killed
            # before the new one is written encodes again
            (gorilla_blobs_1m(store.read_tier("1m").drop("ts_bucket"))
             .write.mode("overwrite").partitionBy("bucket").parquet(compress_1m))
            (spark.createDataFrame(sorted(commits),
                                   "ts_bucket bigint, written_at double")
             .coalesce(1).write.parquet(marker))
        agg = spark.read.parquet(compress_1m).agg(
            F.sum("n_points").alias("np"), F.sum("ts_bytes").alias("tb"),
            F.sum("val_bytes").alias("vb"),
            F.min("roundtrip_ok").alias("ok")).collect()[0]
        metrics["compress_1m"] = {
            "points": agg.np,
            "bytes_per_point": round((agg.tb + agg.vb) / max(agg.np, 1), 3),
            "roundtrip_ok": bool(agg.ok),
            "path": compress_1m,
        }

    if retain_1m_hours is not None:
        done = sorted(store.completed_buckets("1m"))
        if len(done) > retain_1m_hours:
            metrics["retention_dropped_1m"] = store.expire("1m", done[-retain_1m_hours])
    return metrics


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages parquet/Iceberg path; omit to synthesize")
    ap.add_argument("--out", required=True, help="rollup lake root")
    ap.add_argument("--synthesize-urls", type=int, default=1000)
    ap.add_argument("--synthesize-samples", type=int, default=500)
    ap.add_argument("--retain-1m-hours", type=int, default=None,
                    help="drop 1m-tier hour buckets older than the newest N "
                         "(N >= 1)")
    ap.add_argument("--compress-1m", default=None, metavar="PATH",
                    help="also persist the 1m tier as Gorilla blocks "
                         "(url, bucket, ts_blob, val_blob, …), keyed by "
                         "(url, day bucket), at PATH")
    ap.add_argument("--cores", type=int, default=None, help="local mode cores")
    args = ap.parse_args(argv)

    from ezmsg_sigproc_spark.session import engine_on_worker_path, get_spark
    from ezmsg_sigproc_spark.sources.pages import generate_pages

    engine_on_worker_path()
    spark = get_spark(app_name="rollup_job", cores=args.cores)
    t0 = time.monotonic()
    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        pages = generate_pages(spark, n_urls=args.synthesize_urls,
                               samples_per_url=args.synthesize_samples)
    metrics = run(spark, pages, args.out, compress_1m=args.compress_1m,
                  retain_1m_hours=args.retain_1m_hours)
    metrics["elapsed_sec"] = round(time.monotonic() - t0, 3)
    print(json.dumps(metrics, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
