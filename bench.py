"""The headline suite: 16 keys timed in one session on perfbench's harness.

    python bench.py

Keys: the 14 operator queries of ``HEADLINE``, each timed as
``fn(spark, SF_DIR)`` followed by ``.count()``, and the continuous-aggregate
store timed as two keys: ``ca_store_write`` builds a fresh store
(``entry_queries._ca_store_build``: 1m partials written, 1h tier derived
from the stored 1m tier) and ``ca_store_read`` reads it back at an unaligned
2h resolution (tier routing, ``ts_bucket`` pruning, partial re-aggregation).

The session, its environment and the CPU accounting are
``perfbench/harness.py``'s: C1 and serial GC in the driver JVM, one thread
per Python worker, a run directory inside the checkout, CPU seconds (user +
system of this process, the JVM and its Python workers) and the host's steal
time read from /proc. Every key runs once untimed and then ``SAMPLES``
times; each sample's wall and CPU seconds are kept with their medians. The
untimed store run builds and reads a throwaway root.

Input: ``$SPARK_GRAFT_SF_DIR`` (default the sf0.1 test data). Prints one
summary JSON line and writes the full JSON to ``$BENCH_JSON_OUT`` (default
``BENCH_suite.json`` next to this file).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from perfbench import harness

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SAMPLES = 3

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
KEYS = HEADLINE + ["ca_store_write", "ca_store_read"]


def query_fn(name: str):
    """The query a ``HEADLINE`` key times. ``rollup_1h_from_1m`` is the
    in-memory 1m→1h composition (``rollup_1h_chain``), comparable name for
    name with the first rounds; the store-backed path is timed by the
    ``ca_store_*`` keys."""
    from ezmsg_sigproc_spark import entry_queries

    if name == "rollup_1h_from_1m":
        return entry_queries.RAW_QUERIES["rollup_1h_chain"]
    return entry_queries.QUERIES.get(name) or entry_queries.RAW_QUERIES[name]


def main() -> None:
    harness.require_engine()
    from pyspark.sql import functions as F

    from ezmsg_sigproc_spark import entry_queries
    from ezmsg_sigproc_spark.plans.rollup_tiers import read_resolution

    st = harness.Settings("suite", seed=0, seconds=0.0, trace=False)
    out_path = os.environ.get(
        "BENCH_JSON_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_suite.json"))
    runs: dict[str, list[dict]] = {k: [] for k in KEYS}
    harness.prepare_env(st)
    try:
        t_start = time.monotonic()
        spark = harness.start_session(st, event_log=False)
        jvm = harness.jvm_pid(spark)
        t_session = time.monotonic()

        def timed(key: str, action, into: dict = runs) -> object:
            c0, s0 = harness.cpu_s(jvm), harness.steal_s()
            t0 = time.monotonic()
            result = action()
            wall = time.monotonic() - t0
            into.setdefault(key, []).append({
                "wall_s": round(wall, 3),
                "cpu_s": round(harness.cpu_s(jvm) - c0, 2),
                "steal_s": round(harness.steal_s() - s0, 2)})
            return result

        # each key first runs once untimed (its sample goes to ``warmups``),
        # just before its samples, so that every sample finds the key's own
        # plan, codegen and UDF paths warm
        warmups: dict[str, list[dict]] = {}

        for name in HEADLINE:
            fn = query_fn(name)
            timed(name, lambda: fn(spark, SF_DIR).count(), into=warmups)
            for _ in range(SAMPLES):
                timed(name, lambda: fn(spark, SF_DIR).count())

        def store_round(root: str, into: dict) -> None:
            store, tmin, tmax = timed(
                "ca_store_write",
                lambda: entry_queries._ca_store_build(spark, SF_DIR, root=root),
                into=into)
            timed("ca_store_read", lambda: read_resolution(
                store, 7200, t0=tmin + 4000.0, t1=tmax - 4000.0).agg(
                    F.count("*"), F.sum("sum")).collect(), into=into)
            shutil.rmtree(root, ignore_errors=True)

        store_round(st.path("out", "ca_store_warmup"), warmups)
        for i in range(SAMPLES):
            store_round(st.path("out", f"ca_store_{i}"), runs)
        spark.stop()
        elapsed = time.monotonic() - t_start
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(st.run_dir, ignore_errors=True)

    keys = {k: {"wall_s": [r["wall_s"] for r in rr],
                "cpu_s": [r["cpu_s"] for r in rr],
                "steal_s": [r["steal_s"] for r in rr],
                "wall_median_s": statistics.median(r["wall_s"] for r in rr),
                "cpu_median_s": statistics.median(r["cpu_s"] for r in rr)}
            for k, rr in runs.items()}
    cpu = sum(r["cpu_s"] for rr in runs.values() for r in rr)
    steal = sum(r["steal_s"] for rr in runs.values() for r in rr)
    summary = {
        "metric": "headline suite: sum over 16 keys of the median wall seconds",
        "unit": "s",
        "value": round(sum(v["wall_median_s"] for v in keys.values()), 3),
        "cpu_s": round(sum(v["cpu_median_s"] for v in keys.values()), 2),
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        "cores": st.cores,
        "samples": SAMPLES,
        "elapsed_s": round(elapsed, 1),
        "steal_share": round(steal / (cpu + steal), 4) if cpu + steal else 0.0,
        "wall": {k: v["wall_median_s"] for k, v in keys.items()},
        "cpu": {k: v["cpu_median_s"] for k, v in keys.items()},
    }
    full = {**summary, "settings": st.describe(),
            "session_s": round(t_session - t_start, 2),
            "warmup_s": {k: rr[0]["wall_s"] for k, rr in warmups.items()},
            "keys": keys}
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    print(json.dumps({**summary, "full_json": os.path.basename(out_path)}), flush=True)


if __name__ == "__main__":
    main()
