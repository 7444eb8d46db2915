"""Spark-free hardware envelope for the Gorilla codec: run the ACTUAL
numpy block encoder/decoder in k concurrent OS processes on identical
synthetic data and report per-core throughput.

Purpose: on one box, per-core encode throughput drops ~25-30% going from 2
to 8 busy cores (turbo/memory-bandwidth, measured, not a Spark effect) while
decode holds flat. A real N→4N *executor* scale-out multiplies sockets and
memory channels and does not pay this. This probe quantifies the envelope so
the codec-scaling section of bench.py can show the Spark layer sits AT the
hardware limit rather than below it. Pure context — never used to rescale
any committed efficiency number.

Usage: python tools/hw_codec_probe.py <k> [n_points_per_proc]
Prints one JSON line: {"k": k, "enc_mpts_per_core": ..., "dec_mpts_per_core": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time
from multiprocessing import Pool

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _work(arg):
    seed, n = arg
    from ezmsg_sigproc_spark.operators.compression import (
        decode_timestamp_blocks,
        decode_value_blocks,
        encode_timestamp_blocks,
        encode_value_blocks,
    )

    rng = np.random.default_rng(seed)
    ts = np.cumsum(rng.integers(1, 30, n)).astype(np.int64)
    vals = np.round(rng.normal(100.0, 5.0, n), 2)
    starts = np.append(np.arange(0, n, 3600), n).astype(np.int64)
    # warm pass (numpy/jit caches, page faults), then timed pass
    for timed in (False, True):
        t0 = time.monotonic()
        tb = encode_timestamp_blocks(ts, starts)
        vb = encode_value_blocks(vals, starts)
        enc = time.monotonic() - t0
        ns = np.diff(starts).astype(np.int64)
        t0 = time.monotonic()
        dts, _ = decode_timestamp_blocks(tb, ns)
        dvs, _ = decode_value_blocks(vb, ns)
        dec = time.monotonic() - t0
    assert np.array_equal(dts, ts) and np.array_equal(dvs, vals)
    return enc, dec


def main():
    k = int(sys.argv[1])
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 1_800_000
    with Pool(k) as pool:
        res = pool.map(_work, [(i, n) for i in range(k)])
    enc = sum(r[0] for r in res) / k
    dec = sum(r[1] for r in res) / k
    print(json.dumps({
        "k": k,
        "n_per_proc": n,
        "enc_mpts_per_core": round(n / enc / 1e6, 3),
        "dec_mpts_per_core": round(n / dec / 1e6, 3),
    }))


if __name__ == "__main__":
    main()
