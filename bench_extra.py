"""Round-7 optimization harness (bench.py is FROZEN for measurement — this
file exists so the optimization loop can iterate on the suite without
touching it; same session factory, same query resolution, same
median-of-3 methodology as bench.py section 1).

Usage:
    python bench_extra.py                 # time HEADLINE + ca_store, medians
    python bench_extra.py --plans DIR     # also write .explain("formatted")
    python bench_extra.py --only q1,q2    # subset
    python bench_extra.py --repeats N

Prints one JSON line with per-query medians and all runs, plus the
ca_store_write phase split.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default: the cores this process may run on, not a fixed 32
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))

HEADLINE = [
    "rollup_1m_envelope",
    "rollup_1h_from_1m",
    "binlaw_fractional",
    "downsample_q3",
    "window_rolling_stats",
    "rolling_zscore_k20",
    "ewma_alpha06",
    "gapfill_linear_300s",
    "butterworth_lowpass",
    "gorilla_compression",
    "dedup_minhash_lsh",
    "embedding_cosine_topk",
    "tpch_q1_pricing",
    "tpch_q3_topk",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", default=None, help="dir for explain output")
    ap.add_argument("--plans-suffix", default="before")
    ap.add_argument("--only", default=None)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--skip-ca", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ezmsg_sigproc_spark import entry_queries
    from ezmsg_sigproc_spark.session import get_spark

    spark = get_spark(app_name="bench_extra", cores=CPUS, shuffle_partitions=CPUS)

    # identical warmup to bench.py
    ev_warm = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev_warm.groupBy("user_id").count().count()
    ev_warm.limit(1024).groupBy("user_id").applyInPandas(
        lambda p: p, schema=ev_warm.schema
    ).count()

    names = args.only.split(",") if args.only else HEADLINE
    bench_fns = {
        "rollup_1h_from_1m": entry_queries.RAW_QUERIES["rollup_1h_chain"],
    }
    queries: dict[str, float] = {}
    queries_runs: dict[str, list[float]] = {}
    for name in names:
        if name in ("ca_store_write", "ca_store_read"):
            continue
        fn = bench_fns.get(name) or entry_queries.QUERIES.get(name) \
            or entry_queries.RAW_QUERIES[name]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, SF_DIR)
            with open(os.path.join(
                    args.plans, f"{name}_{args.plans_suffix}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        ts = []
        for _ in range(args.repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            df.count()
            ts.append(round(time.monotonic() - t0, 3))
        queries_runs[name] = ts
        queries[name] = sorted(ts)[len(ts) // 2]

    ca_phases = []
    if not args.skip_ca and (args.only is None or "ca_store_write" in args.only):
        from ezmsg_sigproc_spark.plans.rollup_tiers import read_resolution

        w_ts, r_ts = [], []
        for _ in range(args.repeats):
            ca_root = tempfile.mkdtemp(prefix="bx_ca_")
            try:
                spark.sparkContext.setJobDescription("bench_extra:ca_store_write")
                t0 = time.monotonic()
                store, tmin, tmax = entry_queries._ca_store_build(
                    spark, SF_DIR, root=ca_root)
                w_ts.append(round(time.monotonic() - t0, 3))
                ca_phases.append(dict(store.last_write_phases))
                spark.sparkContext.setJobDescription("bench_extra:ca_store_read")
                t0 = time.monotonic()
                read_resolution(store, 7200, t0=tmin + 4000.0,
                                t1=tmax - 4000.0).agg(
                    F.count("*"), F.sum("sum")).collect()
                r_ts.append(round(time.monotonic() - t0, 3))
            finally:
                shutil.rmtree(ca_root, ignore_errors=True)
        queries_runs["ca_store_write"], queries_runs["ca_store_read"] = w_ts, r_ts
        queries["ca_store_write"] = sorted(w_ts)[len(w_ts) // 2]
        queries["ca_store_read"] = sorted(r_ts)[len(r_ts) // 2]

    total = round(sum(queries.values()), 3)
    out = {"value": total, "unit": "sec", "sf": SF_DIR, "queries": queries,
           "queries_runs": queries_runs, "ca_store_write_phases": ca_phases}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
