"""Hardware scaling calibration: measure this machine's per-core numpy
throughput at k-way parallelism, with zero Spark involvement.

Single-box local[N] runs conflate engine scaling with the host's frequency /
SMT / memory-bandwidth behavior: on this sandbox the same single-threaded
numpy kernel runs ~0.55× slower per core when 32 copies run at once. The
bench therefore reports, alongside raw wall-clock efficiency, an
*engine-normalized* efficiency = raw speedup / hardware-attainable speedup,
where the attainable speedup comes from this probe. On a real multi-executor
cluster (N vs 4N separate machines) the hardware factor is ~1 and raw
efficiency is the right number.

Prints one JSON line {"k": k, "per_core_mpts": median}.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _worker(q, barrier):
    import time

    import numpy as np

    from ezmsg_sigproc_spark.operators.compression import encode_timestamps, encode_values

    rng = np.random.default_rng(7)
    n = 500_000
    ts = np.cumsum(rng.integers(999_999, 1_000_002, n))
    vals = np.round(rng.standard_normal(n) * 5 + 100, 2)
    encode_timestamps(ts)
    encode_values(vals)  # warm
    # BARRIER before measuring: without it, spawn stagger (+ numpy import)
    # lets early workers measure with k-way contention only partially
    # established, inflating the low-k per-core figure and garbling the
    # attainable-speedup ratio (seen as hw_attainable 0.37 in one r4 run)
    barrier.wait()
    best = float("inf")
    for _ in range(5):
        t0 = time.monotonic()
        encode_timestamps(ts)
        encode_values(vals)
        best = min(best, time.monotonic() - t0)
    q.put(n / best / 1e6)


def measure(k: int) -> float:
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    barrier = ctx.Barrier(k)
    procs = [ctx.Process(target=_worker, args=(q, barrier)) for _ in range(k)]
    for p in procs:
        p.start()
    vals = [q.get() for _ in procs]
    for p in procs:
        p.join()
    return statistics.median(vals)


if __name__ == "__main__":
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    print(json.dumps({"k": k, "per_core_mpts": round(measure(k), 4)}))
